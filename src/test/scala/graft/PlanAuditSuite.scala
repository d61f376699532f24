package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.plans.physical.{HashPartitioning, RangePartitioning}
import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.joins.{BroadcastHashJoinExec, SortMergeJoinExec}
import org.scalatest.funsuite.AnyFunSuite

/** Physical-plan audits for the scale claims the scaladocs make: what is
  * said to be map-only must not shuffle, what is said to broadcast must
  * broadcast, scans must prune and push down, and the dedup hot path must
  * stay out of interpreted higher-order functions.
  */
class PlanAuditSuite extends AnyFunSuite with AdaptiveSparkPlanHelper {
  import SparkFixture._

  test("shingle construction plans no interpreted array lambdas") {
    val plan = operators.DedupOps.shingleRows(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("array_distinct") && !plan.contains("transform("),
      s"shingleRows must stay codegen-friendly, got:\n$plan")
  }

  test("hash sampling shuffles only for the presentation sort") {
    val q = SparkEntry.queries("q_sample_hash")(spark, sf)
    q.collect()
    val shuffles = collectWithSubqueries(q.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    assert(shuffles.forall(_.isInstanceOf[RangePartitioning]),
      s"sampling itself must be map-only; found hash shuffles: $shuffles")
  }

  test("PDF extraction is file-local: one mapPartitions pass, shuffles " +
      "only for presentation sort / dedup") {
    for (name <- Seq("q_pdf_tables", "q_rad_ingest")) {
      val q = SparkEntry.queries(name)(spark, sf)
      q.collect()
      val shuffles = collectWithSubqueries(q.queryExecution.executedPlan) {
        case e: ShuffleExchangeExec => e.outputPartitioning
      }
      // the parse itself must not shuffle raw bytes: only the final
      // range sort (and, for rad, the dedup hash) may exchange —
      // and those move extracted cells, never file contents
      assert(shuffles.size <= 2, s"$name: unexpected shuffles $shuffles")
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("content#") ||
        !shuffles.exists(_.toString.contains("content")),
        s"$name must never shuffle file bytes:\n$plan")
    }
  }

  test("skew-salted join merges on (key, salt) with no broadcast masking") {
    val q = SparkEntry.queries("q_join_skew_salted")(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan
    val smj = collectWithSubqueries(exec) { case j: SortMergeJoinExec => j }
    assert(smj.nonEmpty, s"expected a sort-merge join, got:\n$exec")
    assert(smj.head.leftKeys.exists(_.toString.contains("__salt")),
      s"join keys must include the salt, got: ${smj.head.leftKeys}")
    val bhj = collectWithSubqueries(exec) { case b: BroadcastHashJoinExec => b }
    assert(bhj.isEmpty,
      "a broadcast would mask the salting the query exists to demonstrate")
  }

  test("date spine joins its aggregated counts by broadcast") {
    val q = SparkEntry.queries("q_date_spine")(spark, sf)
    q.collect()
    val bhj = collectWithSubqueries(q.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.nonEmpty, "expected a broadcast join for the spine stitch")
  }

  test("column pruning reaches the parquet scan (q_text_tokens)") {
    val q = SparkEntry.queries("q_text_tokens")(spark, sf)
    q.collect()
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.requiredSchema.fieldNames.toSet
    }
    assert(scans.nonEmpty)
    scans.foreach { cols =>
      assert(!cols.contains("lang") && !cols.contains("source"),
        s"scan reads more columns than the query needs: $cols")
    }
  }

  test("predicate pushdown reaches the parquet scan") {
    val q = Tables.lineitem(spark, sf)
      .filter(col("l_quantity") > 45).select(col("l_orderkey"))
    q.collect()
    val pushed = collectWithSubqueries(q.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f.metadata.getOrElse("PushedFilters", "")
    }.mkString
    assert(pushed.contains("GreaterThan(l_quantity"),
      s"filter not pushed to scan: $pushed")
  }

  test("star join broadcasts its dimensions; top-k plans as TakeOrdered") {
    val star = SparkEntry.queries("q_star_join")(spark, sf)
    star.collect()
    val bhj = collectWithSubqueries(star.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 2, s"nation+region should broadcast, found ${bhj.size}")
    val topk = SparkEntry.queries("q_ship_priority")(spark, sf)
    topk.collect()
    assert(topk.queryExecution.executedPlan.toString
      .contains("TakeOrderedAndProject"),
      "order-by-limit must plan as distributed top-k, not a global sort")
  }

  test("skew profile: one-column scan, top-10 as TakeOrdered, total broadcast") {
    val q = SparkEntry.queries("q_skew_profile")(spark, sf)
    q.collect()
    val exec = q.queryExecution.executedPlan
    assert(exec.toString.contains("TakeOrderedAndProject"),
      "hottest-keys cut must be a distributed top-k, not a global sort")
    val scans = collectWithSubqueries(exec) { case s: FileSourceScanExec => s }
    assert(scans.nonEmpty && scans.forall(_.requiredSchema.size <= 1),
      s"skew profile must scan at most the key column, got " +
        scans.map(_.requiredSchema.catalogString))
  }

  test("url dedup shuffles only for its aggregation and presentation sort") {
    val q = SparkEntry.queries("q_dedup_url")(spark, sf)
    q.collect()
    val shuffles = collectWithSubqueries(q.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e
    }
    assert(shuffles.size <= 2,
      s"canonicalization must stay map-side; found ${shuffles.size} exchanges")
  }

  test("three-stage funnel plans only keyed joins, never a cartesian") {
    val q = SparkEntry.queries("q_funnel_stages")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"stage gating must ride the user_id equi-joins:\n$plan")
  }

  test("document chunking is map-only up to the presentation sort") {
    val q = SparkEntry.queries("q_chunk_documents")(spark, sf)
    q.collect()
    val shuffles = collectWithSubqueries(q.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    assert(shuffles.forall(_.isInstanceOf[RangePartitioning]),
      s"chunk explosion must stay map-side; found hash shuffles: $shuffles")
  }

  test("triangle enumeration rides keyed wedge joins, never a cartesian") {
    val q = SparkEntry.queries("q_graph_triangles")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") &&
      !plan.contains("BroadcastNestedLoopJoin"),
      s"wedge + closure must be equi-joins on (b) and (a, c):\n$plan")
  }

  test("merge upsert plans no single-partition window for insert ids") {
    val q = SparkEntry.queries("q_merge_upsert")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"insert-id ranks must come from the parallel range+zipWithIndex " +
        s"pattern, not a global window, got:\n$plan")
  }

  test("decontamination broadcasts the benchmark gram set") {
    val q = SparkEntry.queries("q_decontaminate")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan
    val bhjSemi = collectWithSubqueries(plan) {
      case b: BroadcastHashJoinExec if b.joinType.sql.contains("SEMI") => b
    }
    assert(bhjSemi.nonEmpty,
      s"the eval-set grams are MBs vs a 100 TB corpus — the contamination " +
        s"probe must be a broadcast semi-join, got:\n$plan")
  }

  test("global shuffle plans no single-partition window for positions") {
    val q = SparkEntry.queries("q_shuffle_global")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("Window"),
      s"training-order positions must come from the parallel " +
        s"range+zipWithIndex pattern, not a global window, got:\n$plan")
  }

  test("epoch mixing is map-only up to the presentation sort") {
    val q = SparkEntry.queries("q_mix_epochs")(spark, sf)
    q.collect()
    val shuffles = collectWithSubqueries(q.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    assert(shuffles.forall(_.isInstanceOf[RangePartitioning]),
      s"row replication must not shuffle; found hash shuffles: $shuffles")
  }

  test("nearest as-of runs both directional carries on ONE key shuffle") {
    val q = SparkEntry.queries("q_join_asof_nearest")(spark, sf)
    q.collect()
    val shuffles = collectWithSubqueries(q.queryExecution.executedPlan) {
      case e: ShuffleExchangeExec => e.outputPartitioning
    }
    val hashShuffles = shuffles.filter(_.isInstanceOf[HashPartitioning])
    assert(hashShuffles.size == 1,
      s"both window frames must share one key partitioning " +
        s"(second differs only by an in-partition re-sort): $shuffles")
  }

  test("inverted-index posting limit plans as map-side WindowGroupLimit") {
    val q = SparkEntry.queries("q_text_inverted_index")(spark, sf)
    q.collect()
    assert(q.queryExecution.executedPlan.toString.contains("WindowGroupLimit"),
      "rank<=10 must prune map-side, or hot terms buffer whole posting sets")
  }

  test("partial_ratio participates in whole-stage codegen") {
    import org.apache.spark.sql.execution.WholeStageCodegenExec
    val q = SparkEntry.queries("q_udf_fuzzy_ratio")(spark, sf)
    q.collect()
    val inCodegen = collectWithSubqueries(q.queryExecution.executedPlan) {
      case w: WholeStageCodegenExec => w.toString
    }.exists(_.contains("partial_ratio"))
    assert(inCodegen,
      "partial_ratio must run inside a codegen stage, not as fallback")
  }

  test("profile table is a single aggregation pass over one scan") {
    val q = SparkEntry.queries("q_profile_table")(spark, sf)
    q.collect()
    val scans = collectWithSubqueries(q.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(scans.length == 1,
      s"profile must not rescan per column, found ${scans.length} scans")
  }

  test("ratio-to-report and range buckets plan no global window") {
    for (name <- Seq("q_percent_of_total", "q_range_bucket")) {
      val q = SparkEntry.queries(name)(spark, sf)
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Window"),
        s"$name must use the broadcast-scalar pattern, not a window:\n$plan")
    }
  }

  test("market share star broadcasts every dimension") {
    val q = SparkEntry.queries("q_market_share")(spark, sf)
    q.collect()
    val bhj = collectWithSubqueries(q.queryExecution.executedPlan) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj.size >= 5,
      s"part/supplier/nation x2/region must broadcast, found ${bhj.size}")
  }

  test("bucketed range join plans an equi-join, never a nested loop") {
    val q = SparkEntry.queries("q_join_range_bucketed")(spark, sf)
    q.collect()
    val plan = q.queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin") &&
      !plan.contains("CartesianProduct"),
      s"the day-bucket join must stay an equi-join:\n$plan")
    // and it must agree with the naive range-join semantics
    val li = Tables.lineitem(spark, sf)
    val o = Tables.orders(spark, sf).filter(col("o_totalprice") > 490000)
    val naive = li.join(o,
        li("l_shipdate") >= o("o_orderdate") &&
        li("l_shipdate") < o("o_orderdate") + expr("INTERVAL 7 DAYS"))
      .count()
    val bucketed = q.agg(sum(col("n_pairs"))).head().getLong(0)
    assert(bucketed == naive, s"bucketed=$bucketed naive=$naive")
  }

  test("ANALYZE + CBO reorders the join tree around the selective dimension") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join => LJoin, LogicalPlan}
    import org.apache.spark.sql.execution.datasources.LogicalRelation
    // Catalog tables + column stats are what unlock cost-based join
    // reordering: the syntactic order joins the two big tables first;
    // with exact rowCounts and ndv/selectivity estimates the optimizer
    // must instead start from customer x (nation WHERE name='FRANCE').
    Tables.orders(spark, sf).write.mode("overwrite").saveAsTable("graft_cbo_orders")
    Tables.customer(spark, sf).write.mode("overwrite").saveAsTable("graft_cbo_customer")
    Tables.nation(spark, sf).write.mode("overwrite").saveAsTable("graft_cbo_nation")
    val q =
      """SELECT count(*) AS n
        |FROM graft_cbo_orders o
        |JOIN graft_cbo_customer c ON o.o_custkey = c.c_custkey
        |JOIN graft_cbo_nation n ON c.c_nationkey = n.n_nationkey
        |WHERE n.n_name = 'FRANCE'""".stripMargin
    def innermostJoinTables(plan: LogicalPlan): Set[String] = {
      val joins = plan.collect { case j: LJoin => j }
      joins.filter(_.children.forall(
          _.collect { case j: LJoin => j }.isEmpty))
        .flatMap(_.collectLeaves().collect {
          case l: LogicalRelation => l.catalogTable.map(_.identifier.table)
        }.flatten).toSet
    }
    try {
      Seq("orders", "customer", "nation").foreach(t => spark.sql(
        s"ANALYZE TABLE graft_cbo_$t COMPUTE STATISTICS FOR ALL COLUMNS"))
      val heuristic = innermostJoinTables(
        spark.sql(q).queryExecution.optimizedPlan)
      assert(heuristic == Set("graft_cbo_orders", "graft_cbo_customer"),
        s"without CBO the syntactic order should hold, got $heuristic")
      spark.conf.set("spark.sql.cbo.enabled", "true")
      spark.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      val cbo = spark.sql(q)
      val reordered = innermostJoinTables(cbo.queryExecution.optimizedPlan)
      assert(reordered == Set("graft_cbo_customer", "graft_cbo_nation"),
        s"CBO should join the selective dim first, got $reordered")
      // and reordering never changes the answer
      val expected = Tables.orders(spark, sf)
        .join(Tables.customer(spark, sf),
          col("o_custkey") === col("c_custkey"))
        .join(Tables.nation(spark, sf).filter(col("n_name") === "FRANCE"),
          col("c_nationkey") === col("n_nationkey"))
        .count()
      assert(cbo.head().getLong(0) == expected)
    } finally {
      spark.conf.unset("spark.sql.cbo.enabled")
      spark.conf.unset("spark.sql.cbo.joinReorder.enabled")
      Seq("orders", "customer", "nation").foreach(t =>
        spark.sql(s"DROP TABLE IF EXISTS graft_cbo_$t"))
    }
  }
  test("manifest-sized relations auto-broadcast: a small graft " +
      "dimension joins by broadcast with NO hint, on both the " +
      "FileIndex scan and the DV-bearing fallback relation") {
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bcast").toString
    val t = s"$dir/dim"
    SnapshotTable.create(spark, t, Tables.nation(spark, sf), numFiles = 1)
    val fact = Tables.customer(spark, sf)
    def joined() = {
      val dim = spark.read.format("graft").load(t)
      val j = fact.join(dim, col("c_nationkey") === col("n_nationkey"))
      j.collect()
      j.queryExecution.executedPlan
    }
    val bhj1 = collectWithSubqueries(joined()) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj1.nonEmpty, "the FileIndex relation must broadcast off " +
      "its manifest-listed size, hint-free")
    // flip the table onto the DV fallback relation: its sizeInBytes
    // must come from the manifest file sizes, not defaultSizeInBytes
    SnapshotTable.deleteWhereVector(spark, t, col("n_nationkey") === 0)
    val bhj2 = collectWithSubqueries(joined()) {
      case b: BroadcastHashJoinExec => b
    }
    assert(bhj2.nonEmpty, "the DV-bearing relation must broadcast off " +
      "dataBytesOf, hint-free")
  }

  test("bucketed snapshot tables: equal-bucketed join plans with ZERO " +
      "shuffle exchanges, and the layout survives mutation + compact") {
    import graft.sources.SnapshotTable
    val dir = java.nio.file.Files
      .createTempDirectory("graft_bucket").toString
    val (ta, tb) = (s"$dir/a", s"$dir/b")
    val orders = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    val cust = Tables.customer(spark, sf)
      .select(col("c_custkey"), col("c_nationkey"), col("c_acctbal"))
    SnapshotTable.createBucketed(spark, ta, orders, "o_custkey", 8,
      sortCols = Seq("o_custkey"))
    SnapshotTable.createBucketed(spark, tb, cust, "c_custkey", 8,
      sortCols = Seq("c_custkey"))
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def joined() = graft.sources.SnapshotScan.scan(spark, ta)._1
        .join(graft.sources.SnapshotScan.scan(spark, tb)._1,
          col("o_custkey") === col("c_custkey"))
      def assertNoExchange(tag: String): Unit = {
        val q = joined()
        q.collect()
        val shuffles = collectWithSubqueries(q.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"$tag: equal-bucketed join must plan NO exchange, got " +
            s"${shuffles.size}:\n${q.queryExecution.executedPlan}")
      }
      assertNoExchange("fresh layout")
      // correctness: the bucketed join equals the plain frame join
      val expect = orders.join(cust,
        col("o_custkey") === col("c_custkey")).count()
      assert(joined().count() === expect)
      // mutations restage per bucket — the property survives an
      // update, an append, and a full compaction
      SnapshotTable.updateWhere(spark, ta, col("o_orderkey") % 10 === 0,
        Map("o_totalprice" -> (col("o_totalprice") + 1)))
      SnapshotTable.append(spark, tb, cust.limit(50))
      assertNoExchange("after update + append")
      SnapshotTable.compact(spark, ta)
      SnapshotTable.compact(spark, tb)
      assertNoExchange("after compact")
      assert(joined().count() ===
        orders.join(cust.unionAll(cust.limit(50)),
          col("o_custkey") === col("c_custkey")).count())
      // SORTED buckets: after compact every bucket is ONE file sorted
      // on the declared key. Spark only trusts bucketed-scan ordering
      // behind spark.sql.legacy.bucketedTableScan.outputOrdering
      // (default false since 3.1 — many-files-per-bucket regressions);
      // with it on, the sort-merge join plans with no SortExec either:
      // zero exchanges AND zero sorts
      spark.conf.set(
        "spark.sql.legacy.bucketedTableScan.outputOrdering", "true")
      try {
        val q = joined()
        q.collect()
        val sorts = collectWithSubqueries(q.queryExecution.executedPlan) {
          case s: org.apache.spark.sql.execution.SortExec => s
        }
        assert(sorts.isEmpty,
          s"compacted sorted buckets must need no sort, got " +
            s"${sorts.size}:\n${q.queryExecution.executedPlan}")
      } finally spark.conf.unset(
        "spark.sql.legacy.bucketedTableScan.outputOrdering")
      // MISMATCHED bucket counts (8 vs 4): Spark's
      // coalesceBucketsInJoin (opt-in) reads the 8-bucket side
      // coalesced pairwise into 4 — still ZERO exchanges, no re-layout
      val tc = s"$dir/c"
      SnapshotTable.createBucketed(spark, tc, cust
        .select(col("c_custkey"), col("c_acctbal").as("bal2")),
        "c_custkey", 4)
      spark.conf.set(
        "spark.sql.bucketing.coalesceBucketsInJoin.enabled", "true")
      try {
        val q2 = graft.sources.SnapshotScan.scan(spark, ta)._1
          .join(graft.sources.SnapshotScan.scan(spark, tc)._1,
            col("o_custkey") === col("c_custkey"))
        q2.collect()
        val shuffles2 = collectWithSubqueries(
          q2.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles2.isEmpty,
          s"8x4 bucket join must coalesce, not exchange:\n" +
            q2.queryExecution.executedPlan)
      } finally spark.conf.unset(
        "spark.sql.bucketing.coalesceBucketsInJoin.enabled")
    } finally {
      saved match {
        case Some(v) =>
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("multi-column buckets + partition x bucket composition: the " +
      "composed layout joins with ZERO exchanges through mutations, " +
      "partition pruning rides on top, and rebucketTable moves the " +
      "count without recreate") {
    import graft.sources.{SnapshotScan, SnapshotTable}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_pbucket").toString
    val (ta, tb) = (s"$dir/a", s"$dir/b")
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"), col("l_returnflag"))
    // MULTI-COLUMN bucket key (partkey, suppkey) on both sides; side A
    // additionally Hive-partitions by the flag — the canonical
    // partition-by-attr, bucket-by-join-key fact layout
    SnapshotTable.createBucketed(spark, ta, items,
      Seq("l_partkey", "l_suppkey"), 8, Nil, Seq("l_returnflag"))
    SnapshotTable.createBucketed(spark, tb,
      items.groupBy(col("l_partkey"), col("l_suppkey"))
        .agg(sum(col("l_quantity")).as("total_qty")),
      Seq("l_partkey", "l_suppkey"), 8, Nil, Nil)
    val saved = spark.conf.getOption("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    try {
      def joined(filtered: Boolean) = {
        val (a, idxA) = SnapshotScan.scan(spark, ta)
        val left = if (filtered) a.filter(col("l_returnflag") === "R")
          else a
        (left.join(SnapshotScan.scan(spark, tb)._1,
          Seq("l_partkey", "l_suppkey")), idxA)
      }
      def assertNoExchange(tag: String, filtered: Boolean)
          : graft.sources.SnapshotFileIndex = {
        val (q, idxA) = joined(filtered)
        q.collect()
        val shuffles = collectWithSubqueries(q.queryExecution.executedPlan) {
          case e: ShuffleExchangeExec => e
        }
        assert(shuffles.isEmpty,
          s"$tag: composed-layout join must plan NO exchange, got " +
            s"${shuffles.size}:\n${q.queryExecution.executedPlan}")
        idxA
      }
      assertNoExchange("fresh composed layout", filtered = false)
      // correctness vs the plain-frame join
      val expect = items.join(
        items.groupBy(col("l_partkey"), col("l_suppkey"))
          .agg(sum(col("l_quantity")).as("total_qty")),
        Seq("l_partkey", "l_suppkey")).count()
      assert(joined(filtered = false)._1.count() === expect)
      // partition pruning composes with the bucket layout: the
      // flag = 'R' side plans only R-partition files AND still no
      // exchange
      val snapA = SnapshotTable.readManifest(spark, ta,
        SnapshotTable.currentVersion(spark, ta))
      val rFiles = snapA.files.count(f =>
        snapA.partitionOf.get(f).contains("R"))
      assert(rFiles > 0 && rFiles < snapA.files.size)
      val idxA = assertNoExchange("partition-pruned join", filtered = true)
      assert(idxA.lastPlannedFiles === rFiles,
        s"flag = 'R' must plan exactly the R partition's " +
          s"$rFiles files, planned ${idxA.lastPlannedFiles}")
      // mutations keep BOTH properties (relabel + re-bucket)
      SnapshotTable.updateWhere(spark, ta, col("l_orderkey") % 7 === 0,
        Map("l_quantity" -> (col("l_quantity") + 1)))
      assertNoExchange("after update", filtered = true)
      // BUCKET-COUNT EVOLUTION: move side B 8 -> 16, then side A too;
      // at matching counts the join is exchange-free again, and the
      // pre-evolution version still time-travels with ITS layout
      val preRebucket = SnapshotTable.currentVersion(spark, tb)
      val preRows = SnapshotTable.read(spark, tb).count()
      SnapshotTable.rebucketTable(spark, tb, 16)
      SnapshotTable.rebucketTable(spark, ta, 16)
      val snapB = SnapshotTable.readManifest(spark, tb,
        SnapshotTable.currentVersion(spark, tb))
      assert(graft.sources.TableLayout.of(snapB).buckets.map(b =>
        (b.bucketColumnNames, b.numBuckets))
        .contains((Seq("l_partkey", "l_suppkey"), 16)))
      assertNoExchange("after rebucket to 16", filtered = false)
      assert(SnapshotTable.read(spark, tb, Some(preRebucket)).count()
        === preRows, "pre-rebucket versions time-travel")
    } finally {
      saved match {
        case Some(v) =>
          spark.conf.set("spark.sql.autoBroadcastJoinThreshold", v)
        case None =>
          spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
      spark.conf.unset("spark.sql.adaptive.autoBroadcastJoinThreshold")
    }
  }

  test("manifest-derived CatalogStatistics: named graft tables carry " +
      "size + row counts after DML / analyze, DESCRIBE EXTENDED shows " +
      "them, and CBO reorders a 3-table join to the selective " +
      "dimension with no hint") {
    import graft.sources.{GraftDml, SnapshotTable}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_cbostats").toString
    val (pf, pp, ps) = (s"$dir/fact", s"$dir/part", s"$dir/supp")
    val fact = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), col("l_partkey"), col("l_suppkey"),
        col("l_quantity"))
    // stats on BOTH join keys: with per-column stats in the cost
    // model (NDV-based join cardinality), an unstatted key would make
    // that join's estimate incomparable and skew the reorder
    SnapshotTable.createClustered(spark, pf, fact, "l_partkey",
      statsCols = Seq("l_partkey", "l_suppkey"))
    // the part dim is EXPANDING (4 rows per key — an attribute-history
    // dim shape): NDV vs rowCount is exactly what tells CBO this join
    // multiplies rows and must come AFTER the selective one
    SnapshotTable.createClustered(spark, pp,
      Tables.part(spark, sf).select(col("p_partkey"), col("p_name"))
        .crossJoin(spark.range(4).select(col("id").as("dup")))
        .select(col("p_partkey"),
          concat(col("p_name"), lit("#"), col("dup")).as("p_name")),
      "p_partkey", statsCols = Seq("p_partkey"))
    SnapshotTable.createClustered(spark, ps,
      Tables.supplier(spark, sf).select(col("s_suppkey"), col("s_name")),
      "s_suppkey", statsCols = Seq("s_suppkey"))
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val names = Seq("graft_cbo_fact" -> pf, "graft_cbo_part" -> pp,
      "graft_cbo_supp" -> ps)
    names.foreach { case (n, p) =>
      s2.sql(s"CREATE TABLE $n USING graft LOCATION '$p'") }
    try {
      // a mutation through the named surface publishes stats...
      s2.sql("INSERT INTO graft_cbo_fact VALUES (9000001, 1, 1, 1.0)")
      // ...and analyze publishes on demand (metadata-tier, no scan)
      GraftDml.analyzeGraftTable(s2, "graft_cbo_part")
      GraftDml.analyzeGraftTable(s2, "graft_cbo_supp")
      val factRows = SnapshotTable.read(spark, pf).count()
      val stats = s2.sql("DESCRIBE TABLE EXTENDED graft_cbo_fact")
        .collect().find(_.getString(0) == "Statistics")
        .map(_.getString(1)).getOrElse("")
      assert(stats.contains(s"$factRows rows"),
        s"DESCRIBE EXTENDED must show the manifest row count, got " +
          s"'$stats'")
      // CBO: with row counts on every side, the join reorders to the
      // SELECTIVE dimension (supp, filtered to <5 rows) first even
      // though the SQL names the big dimension first
      s2.conf.set("spark.sql.cbo.enabled", "true")
      s2.conf.set("spark.sql.cbo.joinReorder.enabled", "true")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val q = s2.sql(
          """SELECT count(*) AS n FROM graft_cbo_fact f
            |JOIN graft_cbo_part p ON f.l_partkey = p.p_partkey
            |JOIN graft_cbo_supp s ON f.l_suppkey = s.s_suppkey
            |WHERE s.s_suppkey < 5""".stripMargin)
        val joins = q.queryExecution.optimizedPlan.collect {
          case j: org.apache.spark.sql.catalyst.plans.logical.Join => j
        }
        assert(joins.size === 2)
        // the DEEPEST (first-executed) join must involve the supplier
        // side, not the part side the SQL named first
        val deepest = joins.last
        val deepCols = deepest.output.map(_.name).toSet
        assert(deepCols.contains("s_suppkey") &&
          !deepCols.contains("p_partkey"),
          s"CBO must join the selective supp dim first, got:\n" +
            s"${q.queryExecution.optimizedPlan}")
        // and the answer is right
        val expect = fact
          .join(Tables.part(spark, sf), col("l_partkey") === col("p_partkey"))
          .join(Tables.supplier(spark, sf).filter(col("s_suppkey") < 5),
            col("l_suppkey") === col("s_suppkey"))
          .count() * 4 + 4 // the x4 dim; the inserted row matches 4 dups
        assert(q.head().getLong(0) === expect)
      } finally {
        s2.conf.unset("spark.sql.cbo.enabled")
        s2.conf.unset("spark.sql.cbo.joinReorder.enabled")
        s2.conf.unset("spark.sql.autoBroadcastJoinThreshold")
      }
    } finally names.foreach { case (n, _) =>
      s2.sql(s"DROP TABLE IF EXISTS $n") }
  }

  test("per-column manifest statistics: DESCRIBE EXTENDED <col> shows " +
      "min/max/nulls/NDV aggregated from the manifest (per-file HLL " +
      "sketches unioned, zero data IO), and CBO filter selectivity " +
      "uses the published bounds") {
    import graft.sources.{GraftDml, SnapshotTable}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_colstats").toString
    val pp = s"$dir/part"
    val part = Tables.part(spark, sf)
      .select(col("p_partkey"), col("p_name"))
    SnapshotTable.createClustered(spark, pp, part, "p_partkey",
      statsCols = Seq("p_partkey", "p_name"))
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    s2.sql(s"CREATE TABLE graft_colstats USING graft LOCATION '$pp'")
    try {
      GraftDml.analyzeGraftTable(s2, "graft_colstats")
      val n = part.count()
      def describe(c: String): Map[String, String] =
        s2.sql(s"DESCRIBE TABLE EXTENDED graft_colstats $c").collect()
          .map(r => r.getString(0) -> r.getString(1)).toMap
      val (kLo, kHi) = {
        val r = part.agg(min(col("p_partkey")), max(col("p_partkey")))
          .head()
        (r.getLong(0), r.getLong(1))
      }
      val key = describe("p_partkey")
      assert(key("min") === kLo.toString && key("max") === kHi.toString,
        s"p_partkey bounds must fold the per-file stats, got $key")
      assert(key("num_nulls") === "0")
      val ndv = key("distinct_count").toLong
      assert(math.abs(ndv - n) <= math.max(2L, n / 5),
        s"sketch-union NDV must track the true $n, got $ndv")
      val name = describe("p_name")
      assert(name("max_col_len").toLong > 0 &&
        name("avg_col_len").toLong > 0,
        s"string length stats must publish, got $name")
      assert(name("min") === "NULL" && name("max") === "NULL",
        "string bounds are not published (ANALYZE parity)")
      // CBO: a 5% range predicate estimates ~5% of the rows from the
      // published min/max — selectivity, not just table size
      s2.conf.set("spark.sql.cbo.enabled", "true")
      try {
        val q = s2.sql(s"SELECT * FROM graft_colstats WHERE " +
          s"p_partkey <= ${math.max(1L, n / 20)}")
        // plan stats read SQLConf.get from the ACTIVE session — pin it
        // to s2 (where cbo is on) for the lazily-computed .stats
        org.apache.spark.sql.SparkSession.setActiveSession(s2)
        val est =
          try q.queryExecution.optimizedPlan.stats.rowCount
          finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
        assert(est.isDefined && est.get >= BigInt(1) &&
          est.get <= BigInt(n / 5),
          s"filter estimate must use the column bounds " +
            s"(~${n / 20} of $n), got $est")
      } finally s2.conf.unset("spark.sql.cbo.enabled")
    } finally s2.sql("DROP TABLE IF EXISTS graft_colstats")
  }

  test("CBO equi-height histograms from per-file KLL sketches: a " +
      "SKEWED predicate's estimate tracks the true fraction, and the " +
      "same query shape flips its join strategy by literal — " +
      "indistinguishable under uniform min/max/NDV stats") {
    import graft.sources.{GraftDml, SnapshotTable}
    val dir = java.nio.file.Files
      .createTempDirectory("graft_histo").toString
    val sp = s"$dir/skew"
    val n = 20000L
    // 90% of rows hold v = 7; the rest spread over 1000 light values —
    // uniform stats estimate EVERY equality as n/ndv ≈ 20 rows
    val skew = spark.range(n).select(
      when(col("id") % 10 < 9, lit(7L))
        .otherwise(col("id") % 1000 + 1000).as("v"),
      col("id").as("k"))
    SnapshotTable.createClustered(spark, sp, skew, "v",
      statsCols = Seq("v", "k"))
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    s2.sql("DROP TABLE IF EXISTS graft_histo")
    s2.sql(s"CREATE TABLE graft_histo USING graft LOCATION '$sp'")
    try {
      GraftDml.analyzeGraftTable(s2, "graft_histo")
      s2.conf.set("spark.sql.cbo.enabled", "true")
      def estimate(lit: Long): BigInt = {
        val q = s2.sql(s"SELECT * FROM graft_histo WHERE v = $lit")
        org.apache.spark.sql.SparkSession.setActiveSession(s2)
        try q.queryExecution.optimizedPlan.stats.rowCount.getOrElse(
          BigInt(-1))
        finally org.apache.spark.sql.SparkSession.setActiveSession(spark)
      }
      val heavy = estimate(7L)
      val light = estimate(1500L)
      assert(heavy >= BigInt(n / 2) && heavy <= BigInt(n),
        s"the heavy value is ~90% of $n rows; the histogram estimate " +
          s"must track it (uniform says ~${n / 1001}), got $heavy")
      assert(light >= BigInt(0) && light <= BigInt(n / 50),
        s"a light value is ~2 rows; estimate must stay small, " +
          s"got $light")
      // JOIN strategy flip: the filtered fact side is broadcast-sized
      // for a light literal and NOT for the heavy one — a decision
      // uniform stats cannot make (both estimates would be ~20 rows,
      // broadcasting 18k rows at 100x scale = a driver OOM)
      s2.range(200000).select(col("id").as("k"),
        (col("id") % 97).as("w"))
        .createOrReplaceTempView("graft_histo_other")
      s2.conf.set("spark.sql.autoBroadcastJoinThreshold", "65536")
      s2.conf.set("spark.sql.adaptive.enabled", "false")
      try {
        def joinPlan(lit: Long): String = {
          val q = s2.sql("SELECT f.k, o.w FROM graft_histo f JOIN " +
            s"graft_histo_other o ON f.k = o.k WHERE f.v = $lit")
          org.apache.spark.sql.SparkSession.setActiveSession(s2)
          try q.queryExecution.sparkPlan.toString
          finally org.apache.spark.sql.SparkSession
            .setActiveSession(spark)
        }
        assert(joinPlan(1500L).contains("BroadcastHashJoin"),
          "the light-literal side is provably tiny — broadcast it")
        assert(!joinPlan(7L).contains("BroadcastHashJoin"),
          "the heavy-literal side is ~90% of the fact table — " +
            "broadcasting it is the histogram-less mistake")
      } finally {
        s2.conf.unset("spark.sql.adaptive.enabled")
        s2.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        s2.catalog.dropTempView("graft_histo_other")
      }
      s2.conf.unset("spark.sql.cbo.enabled")
    } finally s2.sql("DROP TABLE IF EXISTS graft_histo")
  }
}
