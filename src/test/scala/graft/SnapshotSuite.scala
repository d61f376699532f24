package graft

import graft.sources.{SnapshotTable, TableLayout}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** The snapshot-manifest commit contract: file-granular mutation (only
  * affected files rewritten), atomic manifest-swap commits (a crash
  * before the rename leaves the old snapshot current and readable),
  * reader pinning / time travel, optimistic conflict detection, and
  * snapshot expiry GC.
  */
class SnapshotSuite extends AnyFunSuite {
  import SparkFixture._

  private def freshTable(tag: String): String = {
    val t = s"/tmp/graft_snapsuite_${tag}_${System.nanoTime()}"
    t
  }

  private def orders: DataFrame =
    Tables.orders(spark, sf).select(
      col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))

  private def sortedRows(df: DataFrame): Seq[String] =
    df.orderBy(col("o_orderkey")).collect().map(_.toString).toSeq

  private def bucketsOf(snap: SnapshotTable.Snapshot)
      : Option[(Seq[String], Int)] =
    TableLayout.of(snap).buckets.map(b => (b.bucketColumnNames, b.numBuckets))

  test("create + read round trip equals the source") {
    val t = freshTable("roundtrip")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    assert(SnapshotTable.currentVersion(spark, t) === 1L)
    assert(sortedRows(SnapshotTable.read(spark, t)) === sortedRows(orders))
  }

  test("update rewrites ONLY the files containing matching rows") {
    val t = freshTable("granular")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val before = SnapshotTable.readManifest(spark, t, 1L)
    assert(before.files.size === 8)
    // one key lives in exactly one hash-partitioned file
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    val (v, matched, rewritten) = SnapshotTable.updateWhere(spark, t,
      col("o_orderkey") === key, Map("o_orderstatus" -> lit("Z")))
    assert(v === 2L)
    assert(matched === 1L)
    assert(rewritten === 1, "a 1-key update must rewrite exactly 1 file")
    val after = SnapshotTable.readManifest(spark, t, 2L)
    val shared = before.files.toSet.intersect(after.files.toSet)
    assert(shared.size === 7,
      "the 7 unaffected files must carry over to the new manifest verbatim")
    val row = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === key).head()
    assert(row.getAs[String]("o_orderstatus") === "Z")
    // untouched rows unchanged
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderstatus") === "Z").count() === 1L)
  }

  test("crash before the commit rename leaves the old snapshot current") {
    val t = freshTable("crash")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    val pre = sortedRows(SnapshotTable.read(spark, t))
    // a writer that staged data files and died before commit:
    SnapshotTable.stageBatch(orders.limit(5), t)
    // ...and one that died mid-manifest-write (temp file, never renamed):
    val fsP = new org.apache.hadoop.fs.Path(t, "_manifests/.tmp-dead")
    val fs = fsP.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(fsP, false)
    out.write("garbage, not a committed manifest".getBytes("UTF-8"))
    out.close()
    assert(SnapshotTable.currentVersion(spark, t) === 1L,
      "orphans must not advance the version")
    assert(sortedRows(SnapshotTable.read(spark, t)) === pre,
      "the pre-crash snapshot must read back exactly")
  }

  test("time travel: every previous version stays readable after commits") {
    val t = freshTable("travel")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    val v1Rows = sortedRows(SnapshotTable.read(spark, t))
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 10 === 0,
      Map("o_orderstatus" -> lit("X")))
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 7 === 1)
    assert(SnapshotTable.currentVersion(spark, t) === 3L)
    assert(sortedRows(SnapshotTable.read(spark, t, Some(1L))) === v1Rows,
      "version 1 must be byte-identical after two later commits")
    val v2 = SnapshotTable.read(spark, t, Some(2L))
    assert(v2.filter(col("o_orderkey") % 10 === 0)
      .filter(col("o_orderstatus") =!= "X").count() === 0L)
    assert(v2.count() === orders.count(), "v2 predates the delete")
  }

  test("optimistic concurrency: a stale commit is rejected, data intact") {
    val t = freshTable("conflict")
    SnapshotTable.create(spark, t, orders, numFiles = 2)
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 2 === 0,
      Map("o_orderstatus" -> lit("Y")))
    val snap1 = SnapshotTable.readManifest(spark, t, 1L)
    // a writer that read v1 and tries to commit over the v2 that landed
    val ex = intercept[IllegalStateException] {
      SnapshotTable.commitManifest(spark, t, snap1, 1L)
    }
    assert(ex.getMessage.contains("concurrent commit"))
    assert(SnapshotTable.currentVersion(spark, t) === 2L)
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderstatus") === "Y").count() > 0L)
  }

  test("delete that empties a batch drops its file without a replacement") {
    val t = freshTable("emptied")
    SnapshotTable.create(spark, t, orders.filter(col("o_orderkey") % 2 === 0),
      numFiles = 1)
    SnapshotTable.append(spark, t,
      orders.filter(col("o_orderkey") % 2 === 1).repartition(1))
    assert(SnapshotTable.readManifest(spark, t, 2L).files.size === 2)
    val (v, deleted, rewritten) =
      SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 2 === 1)
    assert(v === 3L)
    assert(deleted === orders.filter(col("o_orderkey") % 2 === 1).count())
    assert(rewritten === 1)
    assert(SnapshotTable.readManifest(spark, t, 3L).files.size === 1,
      "the fully-deleted batch must leave the manifest with no new file")
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") % 2 === 1).count() === 0L)
  }

  test("compact shrinks the file list; the old snapshot still reads") {
    val t = freshTable("compact")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val pre = sortedRows(SnapshotTable.read(spark, t))
    val (v, before, after) = SnapshotTable.compact(spark, t, targetMB = 512)
    assert(v === 2L && before === 8 && after === 1)
    assert(sortedRows(SnapshotTable.read(spark, t)) === pre)
    assert(sortedRows(SnapshotTable.read(spark, t, Some(1L))) === pre,
      "pre-compaction snapshot readable until expired")
  }

  test("expireSnapshots GCs old manifests and unreferenced data files") {
    val t = freshTable("expire")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 5 === 0,
      Map("o_orderstatus" -> lit("E")))
    SnapshotTable.compact(spark, t, targetMB = 512)
    val cur = sortedRows(SnapshotTable.read(spark, t))
    val (manifests, files) = SnapshotTable.expireSnapshots(spark, t, 1)
    assert(manifests === 2)
    assert(files > 0, "the superseded small files must physically leave")
    assert(sortedRows(SnapshotTable.read(spark, t)) === cur)
    intercept[Exception] {
      SnapshotTable.read(spark, t, Some(1L)).count()
    }
  }

  test("expireSnapshotsOlderThan: age-based expiry keeps the current " +
      "version regardless of age and expires only the aged prefix") {
    val t = freshTable("expireage")
    SnapshotTable.create(spark, t, orders, numFiles = 4) // v1
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 5 === 0,
      Map("o_orderstatus" -> lit("E"))) // v2
    SnapshotTable.compact(spark, t, targetMB = 512) // v3
    // pin the commit clock: v1@t0, v2@t0+60s, v3@t0+120s
    val hfs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L
    (1L to 3L).foreach(v => hfs.setTimes(
      new org.apache.hadoop.fs.Path(s"$t/_manifests/v$v.manifest"),
      t0 + (v - 1) * 60000L, -1))
    val cur = sortedRows(SnapshotTable.read(spark, t))
    // cutoff between v1 and v2: only v1 expires
    val (m1, _) = SnapshotTable.expireSnapshotsOlderThan(spark, t,
      t0 + 30000L)
    assert(m1 === 1)
    intercept[Exception] { SnapshotTable.read(spark, t, Some(1L)) }
    assert(sortedRows(SnapshotTable.read(spark, t, Some(2L))) !== null)
    // cutoff far in the future: everything but the CURRENT version
    // expires — the head is kept regardless of age
    val (m2, files2) = SnapshotTable.expireSnapshotsOlderThan(spark, t,
      t0 + 999999999L)
    assert(m2 === 1, s"only v2 should expire, got $m2")
    assert(files2 > 0, "v2's superseded small files must leave disk")
    assert(sortedRows(SnapshotTable.read(spark, t)) === cur)
    intercept[Exception] { SnapshotTable.read(spark, t, Some(2L)) }
  }

  test("mergeInto: updates rewrite only matched files, inserts append, " +
      "one commit") {
    val t = freshTable("merge")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val before = SnapshotTable.readManifest(spark, t, 1L)
    // one existing key updated + two new keys inserted
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    val src = spark.createDataFrame(Seq(
      (key, 1L, "U", 1.0), (9900001L, 2L, "I", 2.0), (9900002L, 3L, "I", 3.0)))
      .toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
    val (v, updated, inserted, rewritten) =
      SnapshotTable.mergeInto(spark, t, src, "o_orderkey")
    assert(v === 2L && updated === 1L && inserted === 2L)
    assert(rewritten === 1, "a 1-key update must rewrite exactly 1 file")
    val after = SnapshotTable.readManifest(spark, t, 2L)
    assert(before.files.toSet.intersect(after.files.toSet).size === 7,
      "unmatched files must carry over verbatim")
    val cur = SnapshotTable.read(spark, t)
    assert(cur.count() === orders.count() + 2)
    assert(cur.filter(col("o_orderkey") === key).head()
      .getAs[String]("o_orderstatus") === "U")
    assert(cur.filter(col("o_orderstatus") === "I").count() === 2L)
    // idempotence of the no-op merge: same source again changes nothing
    // beyond a version bump with the same logical rows
    val rows1 = sortedRows(cur)
    SnapshotTable.mergeInto(spark, t, src, "o_orderkey")
    assert(sortedRows(SnapshotTable.read(spark, t)) === rows1)
  }

  test("q_table_merge equals the logical upsert on orders") {
    val got = SnapshotTable.queries("q_table_merge")(spark, sf)
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val upd = o.filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("M").as("o_orderstatus"),
        (col("o_totalprice") + 100000).as("o_totalprice"))
    val ins = o.filter(col("o_orderkey") % 1000 === 7)
      .select((col("o_orderkey") + 10000000).as("o_orderkey"),
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"))
    val expect = o.join(upd.select(col("o_orderkey")), Seq("o_orderkey"),
        "left_anti")
      .union(upd).union(ins)
      .orderBy(col("o_orderkey").asc_nulls_first)
    assert(got.collect().map(_.toString).toSeq ===
      expect.collect().map(_.toString).toSeq)
  }

  test("partitioned table: readWhere prunes on manifest metadata alone") {
    val t = freshTable("part")
    SnapshotTable.createPartitioned(spark, t, orders, "o_orderstatus")
    val snap = SnapshotTable.readManifest(spark, t, 1L)
    assert(snap.partitionOf.size === snap.files.size,
      "every file of a partitioned table must carry its label")
    val statuses = orders.select(col("o_orderstatus")).distinct()
      .collect().map(_.getString(0)).toSet
    assert(snap.partitionOf.values.toSet === statuses)
    val pruned = SnapshotTable.readWhere(spark, t, Set("F"))
    val fFiles = snap.files.filter(f => snap.partitionOf(f) == "F")
    assert(pruned.inputFiles.length === fFiles.size,
      "excluded partitions' files must not even reach the scan")
    assert(pruned.count() ===
      orders.filter(col("o_orderstatus") === "F").count())
    assert(pruned.filter(col("o_orderstatus") =!= "F").count() === 0L)
    // full read still equals the source
    assert(SnapshotTable.read(spark, t).count() === orders.count())
  }

  test("partitioned mutations keep labels; partition-column updates " +
      "migrate rows between partitions") {
    val t = freshTable("partmut")
    SnapshotTable.createPartitioned(spark, t, orders, "o_orderstatus")
    val migrating = orders.filter(col("o_orderstatus") === "F")
      .select(min(col("o_orderkey"))).head().getLong(0)
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") === migrating,
      Map("o_orderstatus" -> lit("X")))
    SnapshotTable.append(spark, t,
      orders.limit(0)) // no-op append keeps labels too
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.partitionOf.size === snap.files.size,
      "mutations must not shed partition labels")
    val moved = SnapshotTable.readWhere(spark, t, Set("X"))
    assert(moved.count() === 1L)
    assert(moved.head().getAs[Long]("o_orderkey") === migrating)
    assert(SnapshotTable.readWhere(spark, t, Set("F"))
      .filter(col("o_orderkey") === migrating).count() === 0L,
      "the migrated row must leave its old partition")
  }

  test("clustered table: readWhereRange skips files on manifest stats; " +
      "mutations re-compute stats") {
    val t = freshTable("skip")
    SnapshotTable.createClustered(spark, t, orders, "o_orderkey",
      numFiles = 8)
    val snap = SnapshotTable.readManifest(spark, t, 1L)
    assert(snap.files.size === 8)
    assert(snap.statsOf.size === 8,
      "every clustered file must carry o_orderkey stats")
    // range clustering => near-disjoint files; a narrow range must open
    // only the straddling file(s), not all 8
    val lo = 1000L; val hi = 2000L
    val pruned = SnapshotTable.readWhereRange(spark, t, "o_orderkey", lo, hi)
    // sf0.001 keys span ~6k over 8 range files => a 1k range straddles
    // up to 3 of them; the property under test is that the REST skip
    assert(pruned.inputFiles.length <= 3,
      s"narrow range opened ${pruned.inputFiles.length} of 8 files")
    val got = pruned.filter(col("o_orderkey").between(lo, hi))
      .orderBy(col("o_orderkey")).collect().map(_.toString).toSeq
    val expect = orders.filter(col("o_orderkey").between(lo, hi))
      .orderBy(col("o_orderkey")).collect().map(_.toString).toSeq
    assert(got === expect)
    // skipping never loses rows for ANY range (exactness property)
    val all = SnapshotTable.readWhereRange(spark, t, "o_orderkey",
      Long.MinValue, Long.MaxValue)
    assert(all.count() === orders.count())
    // a mutation re-computes stats for its staged files
    SnapshotTable.updateWhere(spark, t,
      col("o_orderkey").between(lo, hi),
      Map("o_orderstatus" -> lit("K")))
    val snap2 = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap2.statsOf.size === snap2.files.size,
      "rewritten files must carry fresh stats")
    val pruned2 = SnapshotTable.readWhereRange(spark, t, "o_orderkey", lo, hi)
    assert(pruned2.filter(col("o_orderstatus") === "K").count() ===
      expect.size.toLong)
  }

  test("affected-file detection plan: the predicate reaches the parquet " +
      "scan as a pushed filter with key-only ReadSchema") {
    val t = freshTable("plan")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    val snap = SnapshotTable.readManifest(spark, t, 1L)
    // the same frame updateWhere/deleteWhere build to find affected
    // files: predicate + file provenance only
    val probe = spark.read.schema(snap.schema)
      .parquet(snap.files.map(f => s"$t/$f"): _*)
      .filter(col("o_orderkey") === 42L)
      .select(input_file_name().as("__f")).distinct()
    val plan = probe.queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters: [IsNotNull(o_orderkey), " +
        "EqualTo(o_orderkey,42)]"),
      s"predicate must push into the scan:\n$plan")
    assert(plan.contains("ReadSchema: struct<o_orderkey:bigint>"),
      "only the predicate column may be read for file detection")
  }

  test("additive schema evolution: old files read NULL, no byte rewritten") {
    val t = freshTable("evolve")
    SnapshotTable.create(spark, t, orders, numFiles = 2)
    val before = SnapshotTable.readManifest(spark, t, 1L)
    import org.apache.spark.sql.types.{StringType, StructField}
    val v = SnapshotTable.addColumns(spark, t,
      Seq(StructField("quality_tag", StringType, nullable = true)))
    assert(v === 2L)
    val after = SnapshotTable.readManifest(spark, t, 2L)
    assert(after.files === before.files, "evolution must rewrite nothing")
    val cur = SnapshotTable.read(spark, t)
    assert(cur.schema.fieldNames.contains("quality_tag"))
    assert(cur.filter(col("quality_tag").isNotNull).count() === 0L)
    // later writes carry the new column; old rows stay NULL
    SnapshotTable.append(spark, t,
      spark.createDataFrame(Seq((9990001L, "Z", 1.0, "hq")))
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice", "quality_tag"))
    val cur2 = SnapshotTable.read(spark, t)
    assert(cur2.filter(col("quality_tag") === "hq").count() === 1L)
    // collision and non-nullable additions are rejected
    intercept[IllegalArgumentException] {
      SnapshotTable.addColumns(spark, t,
        Seq(StructField("o_orderkey", StringType, nullable = true)))
    }
    ()
  }

  test("column DEFAULT values: pre-evolution rows read the default, " +
      "post-evolution NULLs stay NULL, INSERT fills omitted columns, " +
      "compaction materializes") {
    import org.apache.spark.sql.types.{DoubleType, StructField}
    import spark.implicits._
    val t = freshTable("defaults")
    SnapshotTable.create(spark, t,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), numFiles = 2)
    SnapshotTable.append(spark, t,
      (11L to 15L).map(k => (k, s"v$k")).toDF("k", "v"))
    // v3: ADD COLUMN score DOUBLE DEFAULT 2.5 — metadata-only
    val before = SnapshotTable.readManifest(spark, t, 2L)
    val v = SnapshotTable.addColumns(spark, t,
      Seq(StructField("score", DoubleType, nullable = true)),
      defaults = Map("score" -> "2.5"))
    assert(v === 3L)
    assert(SnapshotTable.readManifest(spark, t, 3L).files ===
      before.files, "declaring a default must rewrite nothing")
    // every pre-evolution row reads the default, not NULL
    val cur = SnapshotTable.read(spark, t)
    assert(cur.filter(col("score") === 2.5).count() === 15L)
    assert(cur.filter(col("score").isNull).count() === 0L)
    // a post-evolution batch with an EXPLICIT NULL keeps it — the
    // rewrite is file-scoped, never a blanket coalesce
    SnapshotTable.append(spark, t, Seq(
      (16L, "v16", java.lang.Double.valueOf(9.0)),
      (17L, "v17", null.asInstanceOf[java.lang.Double])
    ).toDF("k", "v", "score"))
    val cur2 = SnapshotTable.read(spark, t)
    assert(cur2.filter(col("k") === 17L && col("score").isNull)
      .count() === 1L, "explicit NULL after evolution must stay NULL")
    assert(cur2.filter(col("score") === 2.5).count() === 15L)
    // SQL INSERT omitting the column fills the write-default
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    s2.sql(s"INSERT INTO `$t` (k, v) VALUES (18, 'v18')")
    assert(SnapshotTable.read(spark, t)
      .filter(col("k") === 18L && col("score") === 2.5).count() === 1L,
      "INSERT omitting a defaulted column must fill the default")
    // mutations read defaults too (the DV/provenance path): a rewrite
    // materializes them, untouched files keep the read-side rewrite
    SnapshotTable.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit("V1")))
    val cur3 = SnapshotTable.read(spark, t)
    assert(cur3.filter(col("k") === 1L).select("score").head()
      .getDouble(0) === 2.5)
    assert(cur3.filter(col("score") === 2.5).count() === 16L)
    // time travel BEFORE the evolution: no score column at all
    assert(!SnapshotTable.read(spark, t, Some(2L))
      .columns.contains("score"))
    // the raw FileIndex scan refuses while pre-default files live;
    // compact() materializes the default and it is exact again
    intercept[IllegalArgumentException] {
      graft.sources.SnapshotScan.scan(spark, t)
    }
    SnapshotTable.compact(spark, t)
    val scanned = graft.sources.SnapshotScan.scan(spark, t)._1
    assert(scanned.filter(col("score") === 2.5).count() === 16L)
    assert(scanned.filter(col("score").isNull).count() === 1L)
    assert(!SnapshotTable.hasLiveDefaults(
      SnapshotTable.readManifest(spark, t,
        SnapshotTable.currentVersion(spark, t))))
    // the write-default SURVIVES compaction for future inserts
    s2.sql(s"INSERT INTO `$t` (k, v) VALUES (19, 'v19')")
    assert(SnapshotTable.read(spark, t)
      .filter(col("k") === 19L && col("score") === 2.5).count() === 1L)
    // SQL ALTER TABLE ADD COLUMN ... DEFAULT on the path surface
    s2.sql(s"ALTER TABLE `$t` ADD COLUMN tag STRING DEFAULT 'web'")
    val withTag = SnapshotTable.read(spark, t)
    assert(withTag.filter(col("tag") === "web").count() ===
      withTag.count(), "every pre-evolution row reads the new default")
    // a non-constant default is rejected loudly
    intercept[Exception] {
      SnapshotTable.addColumns(spark, t,
        Seq(StructField("r", DoubleType, nullable = true)),
        defaults = Map("r" -> "rand()"))
    }
    ()
  }

  test("ALTER COLUMN SET/DROP DEFAULT and SET/DROP NOT NULL: " +
      "write-defaults on existing columns, constraint-sugar " +
      "nullability, live-initial-default guard") {
    import spark.implicits._
    val t = freshTable("coldefault")
    SnapshotTable.create(spark, t,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), numFiles = 2)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    // a plain added column (no initial default), then SET DEFAULT:
    // existing rows stay NULL (write-default is never retroactive),
    // later omitting INSERTs fill it
    s2.sql(s"ALTER TABLE `$t` ADD COLUMN tag STRING")
    s2.sql(s"ALTER TABLE `$t` ALTER COLUMN tag SET DEFAULT 'web'")
    assert(SnapshotTable.read(spark, t)
      .filter(col("tag").isNull).count() === 10L,
      "SET DEFAULT must not rewrite committed history")
    s2.sql(s"INSERT INTO `$t` (k, v) VALUES (11, 'v11')")
    assert(SnapshotTable.read(spark, t)
      .filter(col("k") === 11L && col("tag") === "web").count() === 1L)
    // DROP DEFAULT: later omitting INSERTs fill NULL again
    s2.sql(s"ALTER TABLE `$t` ALTER COLUMN tag DROP DEFAULT")
    s2.sql(s"INSERT INTO `$t` (k, v) VALUES (12, 'v12')")
    assert(SnapshotTable.read(spark, t)
      .filter(col("k") === 12L && col("tag").isNull).count() === 1L)
    // SET/DROP DEFAULT refuse while an initial default is still live
    // on pre-evolution files (changing it would flip committed rows)
    s2.sql(s"ALTER TABLE `$t` ADD COLUMN score DOUBLE DEFAULT 2.5")
    intercept[Exception] {
      s2.sql(s"ALTER TABLE `$t` ALTER COLUMN score SET DEFAULT 9.0")
    }
    intercept[Exception] {
      s2.sql(s"ALTER TABLE `$t` ALTER COLUMN score DROP DEFAULT")
    }
    SnapshotTable.compact(spark, t)
    // materialized: now the write-default is freely settable, and the
    // pre-evolution rows KEEP the original 2.5 they were committed with
    s2.sql(s"ALTER TABLE `$t` ALTER COLUMN score SET DEFAULT 9.0")
    assert(SnapshotTable.read(spark, t)
      .filter(col("score") === 2.5).count() === 12L)
    s2.sql(s"INSERT INTO `$t` (k, v) VALUES (13, 'v13')")
    assert(SnapshotTable.read(spark, t)
      .filter(col("k") === 13L && col("score") === 9.0).count() === 1L)
    // the identity column can never carry a DEFAULT (the write-default
    // would collide with generated-always assignment)
    val tid = freshTable("identdefault")
    SnapshotTable.createWithIdentity(spark, tid,
      (1L to 3L).map(k => (k, "x")).toDF("k", "v"), idCol = "id")
    intercept[Exception] {
      SnapshotTable.setColumnDefault(spark, tid, "id", "42")
    }
    // SET NOT NULL: validates existing data (tag has NULLs -> refuse),
    // then enforces on every staged batch once declared on a clean col
    intercept[Exception] {
      s2.sql(s"ALTER TABLE `$t` ALTER COLUMN tag SET NOT NULL")
    }
    s2.sql(s"ALTER TABLE `$t` ALTER COLUMN v SET NOT NULL")
    intercept[Exception] {
      s2.sql(s"INSERT INTO `$t` (k) VALUES (14)")
    }
    assert(SnapshotTable.read(spark, t)
      .filter(col("k") === 14L).count() === 0L,
      "a NOT NULL violation must reject the whole batch atomically")
    // DROP NOT NULL lifts the rule
    s2.sql(s"ALTER TABLE `$t` ALTER COLUMN v DROP NOT NULL")
    s2.sql(s"INSERT INTO `$t` (k) VALUES (15)")
    assert(SnapshotTable.read(spark, t)
      .filter(col("k") === 15L && col("v").isNull).count() === 1L)
    // CREATE TABLE column DEFAULTs (the v1-source opt-in: graft must
    // be in spark.sql.defaultColumn.allowedProviders) — a fresh
    // bootstrap has no pre-evolution files, so they are write-defaults
    val t2 = freshTable("createdefault")
    val prev = s2.conf.getOption("spark.sql.defaultColumn.allowedProviders")
    s2.conf.set("spark.sql.defaultColumn.allowedProviders",
      prev.map(_ + ",graft").getOrElse("csv,json,orc,parquet,graft"))
    try {
      val name = s"graft_cdef_${System.nanoTime()}"
      s2.sql(s"CREATE TABLE $name (k BIGINT, src STRING DEFAULT " +
        s"'web') USING graft OPTIONS (createIfMissing 'true') " +
        s"LOCATION '$t2'")
      try {
        s2.sql(s"INSERT INTO $name (k) VALUES (1)")
        s2.sql(s"INSERT INTO $name (k, src) VALUES (2, 'api'), (3, NULL)")
        val got = SnapshotTable.read(spark, t2).orderBy(col("k"))
          .collect().map(r => (r.getLong(0), r.getString(1))).toSeq
        assert(got === Seq((1L, "web"), (2L, "api"), (3L, null)),
          "create-time defaults fill omitted columns only")
      } finally s2.sql(s"DROP TABLE IF EXISTS $name")
    } finally prev match {
      case Some(p) =>
        s2.conf.set("spark.sql.defaultColumn.allowedProviders", p)
      case None =>
        s2.conf.unset("spark.sql.defaultColumn.allowedProviders")
    }
  }

  test("vacuumOrphans removes only aged, unreferenced crash debris") {
    val t = freshTable("vacuum")
    SnapshotTable.create(spark, t, orders, numFiles = 2)
    val pre = sortedRows(SnapshotTable.read(spark, t))
    // a crashed writer's staged batch, aged past the grace period
    val orphan = SnapshotTable.stageBatch(orders.limit(3), t)
    val orphanDir = new org.apache.hadoop.fs.Path(
      t, orphan.head.split('/').take(2).mkString("/"))
    val fs = orphanDir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val old = System.currentTimeMillis() - 2 * 3600 * 1000L
    fs.setTimes(orphanDir, old, old)
    // a FRESH staged batch (a live writer mid-commit) must survive
    val live = SnapshotTable.stageBatch(orders.limit(3), t)
    val removed = SnapshotTable.vacuumOrphans(spark, t)
    assert(removed === 1, "exactly the aged orphan goes")
    assert(!fs.exists(orphanDir))
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      t, live.head.split('/').take(2).mkString("/"))),
      "in-grace staged batches must survive")
    assert(sortedRows(SnapshotTable.read(spark, t)) === pre,
      "committed data untouched")
  }

  test("z-order clustering composes with stats: range queries on EITHER " +
      "dimension skip files") {
    val t = freshTable("zorder")
    val li = Tables.lineitem(spark, sf)
      .select(col("l_partkey"), col("l_suppkey"), col("l_quantity"))
    val z = graft.operators.ScalePatterns.withZValue(
      li, Seq("l_partkey", "l_suppkey"), bits = 10, zCol = "zv")
    val t0 = SnapshotTable.createClustered(spark, t, z, "zv",
      numFiles = 16, statsCols = Seq("l_partkey", "l_suppkey"))
    assert(t0 === 1L)
    val snap = SnapshotTable.readManifest(spark, t, 1L)
    assert(snap.statsOf.size === snap.files.size)
    val maxPk = li.agg(max(col("l_partkey"))).head().getLong(0)
    val maxSk = li.agg(max(col("l_suppkey"))).head().getLong(0)
    // a narrow slice on EACH dimension must skip a real fraction of the
    // 16 z-clustered files — the property plain 1-D sorting can't give
    Seq(("l_partkey", maxPk), ("l_suppkey", maxSk)).foreach {
      case (dim, mx) =>
        val lo = 0L; val hi = mx / 8
        val pruned = SnapshotTable.readWhereRange(spark, t, dim, lo, hi)
        assert(pruned.inputFiles.length < snap.files.size,
          s"$dim slice opened every file — z-stats not pruning")
        val got = pruned.filter(col(dim).between(lo, hi)).count()
        val expect = li.filter(col(dim).between(lo, hi)).count()
        assert(got === expect, s"$dim skipping lost rows")
    }
  }

  test("SnapshotScan: Catalyst pushes filters into the manifest index — " +
      "plain .filter() skips files with no explicit readWhereRange") {
    import graft.sources.SnapshotScan
    val t = freshTable("scan")
    SnapshotTable.createClustered(spark, t, orders, "o_orderkey",
      numFiles = 8)
    val nAll = orders.count()

    // range predicate through the ordinary DataFrame API
    val (df, idx) = SnapshotScan.scan(spark, t)
    val narrow = df.filter(col("o_orderkey").between(1000L, 2000L))
    val gotN = narrow.count()
    assert(idx.lastPlannedFiles >= 1 && idx.lastPlannedFiles <= 3,
      s"Catalyst-planned file count ${idx.lastPlannedFiles} of 8")
    assert(gotN === orders.filter(col("o_orderkey").between(1000L, 2000L))
      .count())

    // the same predicate through spark.sql on a registered view
    df.createOrReplaceTempView("snap_scan_view")
    val viaSql = spark.sql(
      "SELECT count(*) FROM snap_scan_view WHERE o_orderkey = 1000")
      .head().getLong(0)
    assert(idx.lastPlannedFiles === 1,
      "an equality predicate via SQL must plan exactly 1 file")
    assert(viaSql ===
      orders.filter(col("o_orderkey") === 1000L).count())

    // unprunable predicate shapes stay sound: full scan, full result
    assert(df.filter(length(col("o_orderstatus")) >= 0).count() === nAll)
    assert(idx.lastPlannedFiles === 8)

    // aggregation with no filter reads everything
    assert(df.count() === nAll)
  }

  test("streaming batch commits are exactly-once: replays skip, meta " +
      "survives interleaved mutations") {
    val t = freshTable("stream")
    SnapshotTable.create(spark, t,
      orders.filter(col("o_orderkey") < 100), numFiles = 1)
    val base = SnapshotTable.read(spark, t).count()
    val b0 = orders.filter(col("o_orderkey") >= 100 &&
      col("o_orderkey") < 200)
    val n0 = b0.count()
    assert(SnapshotTable.commitStreamBatch(spark, t, b0, 0L))
    assert(SnapshotTable.read(spark, t).count() === base + n0)
    // the at-least-once replay window: same batch id arrives again
    assert(!SnapshotTable.commitStreamBatch(spark, t, b0, 0L),
      "a replayed batch id must be skipped")
    assert(SnapshotTable.read(spark, t).count() === base + n0,
      "replay must not double-append")
    // a non-streaming commit in between must PRESERVE the batch-id meta
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") === 1,
      Map("o_orderstatus" -> lit("S")))
    assert(!SnapshotTable.commitStreamBatch(spark, t, b0, 0L),
      "batch-id meta must survive an interleaved update commit")
    // the next batch commits normally
    val b1 = orders.filter(col("o_orderkey") >= 200 &&
      col("o_orderkey") < 300)
    assert(SnapshotTable.commitStreamBatch(spark, t, b1, 1L))
    assert(SnapshotTable.read(spark, t).count() === base + n0 + b1.count())
  }

  test("appendSink streams micro-batches into the snapshot table " +
      "end-to-end") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sq = spark.sqlContext
    import spark.implicits._
    val t = freshTable("sink")
    val seed = orders.filter(col("o_orderkey") < 50)
    SnapshotTable.create(spark, t, seed, numFiles = 1)
    val mem = MemoryStream[(Long, String, Double)]
    val ckpt = s"$t-ckpt"
    val q = SnapshotTable.appendSink(
      mem.toDF().toDF("o_orderkey", "o_orderstatus", "o_totalprice"),
      t, ckpt)
    try {
      mem.addData((900001L, "A", 1.0), (900002L, "B", 2.0))
      q.processAllAvailable()
      mem.addData((900003L, "C", 3.0))
      q.processAllAvailable()
      val cur = SnapshotTable.read(spark, t)
      assert(cur.count() === seed.count() + 3)
      assert(cur.filter(col("o_orderkey") >= 900000L).count() === 3L)
      // two batches committed = two version bumps past create
      assert(SnapshotTable.currentVersion(spark, t) === 3L)
    } finally { q.stop() }
  }

  test("q_table_snapshot equals the logical update+delete on orders") {
    val got = SnapshotTable.queries("q_table_snapshot")(spark, sf)
    val expect = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 100 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .filter(!(col("o_orderkey") % 17 === 3))
      .orderBy(col("o_orderkey").asc_nulls_first)
    assert(got.collect().map(_.toString).toSeq ===
      expect.collect().map(_.toString).toSeq)
  }

  test("q_table_timetravel equals the pristine orders scan") {
    val got = SnapshotTable.queries("q_table_timetravel")(spark, sf)
    val expect = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      .orderBy(col("o_orderkey").asc_nulls_first)
    assert(got.collect().map(_.toString).toSeq ===
      expect.collect().map(_.toString).toSeq)
  }

  test("changesBetween reads only manifest-diff files and nets rewrite " +
      "carry-through to the exact logical change set") {
    val t = freshTable("cdf")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") === key,
      Map("o_orderstatus" -> lit("Z")))
    val m1 = SnapshotTable.readManifest(spark, t, 1L)
    val m2 = SnapshotTable.readManifest(spark, t, 2L)
    val churn = (m1.files.toSet -- m2.files) ++ (m2.files.toSet -- m1.files)
    val changes = SnapshotTable.changesBetween(spark, t, 1L, 2L)
    // IO bound: the feed's scan plans only the diff files (1 removed +
    // its rewrite output), never the 7 untouched ones
    val planned = changes.inputFiles.toSet
    assert(planned.nonEmpty &&
      planned.forall(abs => churn.exists(rel => abs.endsWith(rel))),
      s"feed must read only the ${churn.size} diff files, planned $planned")
    // netting: the rewritten file carried ~1/8 of the table, but only
    // the single updated row may surface — as its delete+insert pair
    val rows = changes.collect()
    assert(rows.length === 2, s"expected one pre/post pair, got ${rows.toSeq}")
    val byType = rows.groupBy(_.getAs[String]("change_type"))
    assert(byType("delete").head.getAs[Long]("o_orderkey") === key)
    assert(byType("insert").head.getAs[Long]("o_orderkey") === key)
    assert(byType("delete").head.getAs[String]("o_orderstatus") !== "Z")
    assert(byType("insert").head.getAs[String]("o_orderstatus") === "Z")
    // a no-op span is empty
    assert(SnapshotTable.changesBetween(spark, t, 2L, 2L).count() === 0L)
  }

  test("manifest parse cache misses when the table is deleted and " +
      "recreated under a colliding (mtime, length) stamp") {
    // kernel file mtimes tick coarsely and ext4 re-issues a just-freed
    // inode, so a bench rep that deletes and recreates a table FAST can
    // produce a v1.manifest colliding on path, version, mtime, length
    // AND inode with the previous incarnation — any metadata-keyed
    // cache then serves the OLD batch paths and the scan fails
    // FAILED_READ_FILE (observed in the r21 bench). The cache keys on
    // an MD5 of the manifest CONTENT, which always differs (fresh batch
    // UUIDs); this test forces the metadata collision.
    val t = freshTable("cachestale")
    val df = orders.limit(100)
    SnapshotTable.create(spark, t, df, numFiles = 1)
    assert(SnapshotTable.read(spark, t).count() === 100) // cache fills
    val mf = new java.io.File(s"$t/_manifests/v1.manifest")
    val mt = mf.lastModified()
    val len = mf.length()
    val p = new org.apache.hadoop.fs.Path(t)
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).delete(p, true)
    SnapshotTable.create(spark, t, df, numFiles = 1)
    assert(mf.length() === len,
      "test premise: recreated manifest must collide on length")
    assert(mf.setLastModified(mt), "test premise: forced mtime collision")
    // a stale parse would plan the FIRST incarnation's (deleted) batch
    // files and fail the read
    assert(SnapshotTable.read(spark, t).count() === 100)
  }

  test("changesBetween replicates high-multiplicity duplicate rows " +
      "streaming: 300k-fold net multiplicity of one identical row") {
    // the netting aggregate leaves ONE group row with net=±300000; the
    // replication must emit exactly that many change rows (and nothing
    // for the untouched distinct rows) — the multiplicity path r20's
    // netting rewrite introduced, pinned well beyond the churn sizes
    // the bench exercises
    val t = freshTable("cdfdup")
    val dup = spark.range(300000).select(lit(42L).as("k"))
    SnapshotTable.create(spark, t,
      spark.range(5).select((col("id") + 100L).as("k")), numFiles = 1)
    SnapshotTable.append(spark, t, dup)
    val ins = SnapshotTable.changesBetween(spark, t, 1L, 2L)
    assert(ins.count() === 300000L)
    assert(ins.select(col("change_type"), col("k")).distinct().collect()
      .map(_.toString).toSeq === Seq("[insert,42]"))
    // and the delete direction: dropping every duplicate nets -300000
    SnapshotTable.deleteWhere(spark, t, col("k") === 42L)
    val del = SnapshotTable.changesBetween(spark, t, 2L, 3L)
    assert(del.count() === 300000L)
    assert(del.select(col("change_type"), col("k")).distinct().collect()
      .map(_.toString).toSeq === Seq("[delete,42]"))
  }

  test("changesBetween spans additive schema evolution: old side reads " +
      "the new column as NULL") {
    val t = freshTable("cdfevo")
    SnapshotTable.create(spark, t, orders, numFiles = 2)
    SnapshotTable.addColumns(spark, t, Seq(
      org.apache.spark.sql.types.StructField("o_note",
        org.apache.spark.sql.types.StringType, nullable = true)))
    val key = orders.select(max(col("o_orderkey"))).head().getLong(0)
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") === key,
      Map("o_note" -> lit("edited")))
    val changes = SnapshotTable.changesBetween(spark, t, 1L, 3L).collect()
    assert(changes.length === 2)
    val del = changes.find(_.getAs[String]("change_type") == "delete").get
    val ins = changes.find(_.getAs[String]("change_type") == "insert").get
    assert(del.getAs[String]("o_note") === null,
      "pre-evolution row must read the added column as NULL")
    assert(ins.getAs[String]("o_note") === "edited")
  }

  test("restore is a metadata-only commit: v1's files verbatim, content " +
      "restored, history intact, stream marks kept") {
    val t = freshTable("restore")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    val v1Rows = sortedRows(SnapshotTable.read(spark, t))
    // a streaming commit raises the exactly-once high-water mark
    SnapshotTable.commitStreamBatch(spark, t, orders.limit(3), 7L, "q")
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 3 === 0)
    val v = SnapshotTable.restore(spark, t, 1L)
    assert(v === 4L)
    val m1 = SnapshotTable.readManifest(spark, t, 1L)
    val m4 = SnapshotTable.readManifest(spark, t, 4L)
    assert(m4.files === m1.files,
      "restore must re-list v1's files verbatim — no data rewrite")
    assert(m4.meta.get("restoredFrom") === Some("1"))
    assert(m4.meta.get("lastBatchId.q") === Some("7"),
      "restore must not roll back the exactly-once stream mark")
    assert(sortedRows(SnapshotTable.read(spark, t)) === v1Rows)
    // the rolled-back snapshots remain readable for forensics
    assert(SnapshotTable.read(spark, t, Some(3L)).count() < v1Rows.size)
    // a replay of the committed batch id must STILL be rejected
    assert(!SnapshotTable.commitStreamBatch(spark, t, orders.limit(3), 7L, "q"))
  }

  test("q_table_incremental_agg: delta-maintained view is bit-identical " +
      "to the full recompute") {
    val got = SnapshotTable.queries("q_table_incremental_agg")(spark, sf)
      .collect()
    val recompute = Tables.lineitem(spark, sf)
      .filter(!(col("l_orderkey") % 17 === 3))
      .select(col("l_returnflag"),
        when(col("l_orderkey") % 100 === 0, col("l_quantity") + 5)
          .otherwise(col("l_quantity")).as("q"))
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)).as("n"), sum(col("q")).as("qty"))
      .orderBy(col("l_returnflag").asc_nulls_first)
      .collect()
    assert(got.map(_.toString).toSeq === recompute.map(_.toString).toSeq)
  }

  test("WAP: staged candidate is invisible until published, publish is " +
      "a metadata-only promote, abandon leaves no trace") {
    val t = freshTable("wap")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    val baseRows = sortedRows(SnapshotTable.read(spark, t))
    val batch = orders.limit(10)
      .select((col("o_orderkey") + 5000000).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))
    val tok = SnapshotTable.stageAppend(spark, t, batch)
    // invisible: no version advanced, readers see the base snapshot
    assert(SnapshotTable.currentVersion(spark, t) === 1L)
    assert(sortedRows(SnapshotTable.read(spark, t)) === baseRows)
    // the audit reads the exact candidate byte-set: base + batch
    assert(SnapshotTable.readStaged(spark, t, tok).count() ===
      baseRows.size + 10L)
    // vacuum with zero grace must NOT collect the candidate's batch
    assert(SnapshotTable.vacuumOrphans(spark, t, graceMs = 0L) === 0)
    // publish: version advances, no new data files were staged by the
    // promote itself (manifest lists base files + the already-staged
    // batch files verbatim)
    val fsT = new org.apache.hadoop.fs.Path(t, "data")
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val batchDirsBefore = fsT.listStatus(
      new org.apache.hadoop.fs.Path(t, "data")).count(_.isDirectory)
    val v = SnapshotTable.publishStaged(spark, t, tok)
    assert(v === 2L)
    val batchDirsAfter = fsT.listStatus(
      new org.apache.hadoop.fs.Path(t, "data")).count(_.isDirectory)
    assert(batchDirsAfter === batchDirsBefore,
      "publish must move metadata only — no new data batch")
    assert(SnapshotTable.read(spark, t).count() === baseRows.size + 10L)
    // abandon: a second candidate vanishes without a version
    val tok2 = SnapshotTable.stageAppend(spark, t, batch
      .select((col("o_orderkey") + 1000000).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
    SnapshotTable.abandonStaged(spark, t, tok2)
    assert(SnapshotTable.currentVersion(spark, t) === 2L)
    // and its data is now ordinary crash debris for the vacuum
    assert(SnapshotTable.vacuumOrphans(spark, t, graceMs = 0L) === 1)
    assert(SnapshotTable.read(spark, t).count() === baseRows.size + 10L)
  }

  test("deletion vectors: delete touches no data file, time travel and " +
      "re-delete hold, compact purges") {
    val t = freshTable("dv")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val total = orders.count()
    val (v2, n) = SnapshotTable.deleteWhereVector(spark, t,
      col("o_orderkey") % 5 === 0)
    assert(v2 === 2L && n > 0)
    val m1 = SnapshotTable.readManifest(spark, t, 1L)
    val m2 = SnapshotTable.readManifest(spark, t, 2L)
    assert(m2.files === m1.files,
      "a vector delete must not rewrite or drop any data file")
    assert(m2.deleteFiles.nonEmpty && m1.deleteFiles.isEmpty)
    assert(SnapshotTable.read(spark, t).count() === total - n)
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") % 5 === 0).count() === 0L)
    // time travel: v1 still reads the full table
    assert(SnapshotTable.read(spark, t, Some(1L)).count() === total)
    // replaying the delete is a no-op: matching runs on the live view
    val (v3, n2) = SnapshotTable.deleteWhereVector(spark, t,
      col("o_orderkey") % 5 === 0)
    assert(v3 === 2L && n2 === 0L,
      "re-delete of dead rows must not commit a new version")
    // a second, overlapping vector composes
    val (v4, n3) = SnapshotTable.deleteWhereVector(spark, t,
      col("o_orderkey") % 3 === 0)
    assert(v4 === 3L && n3 > 0)
    val live = SnapshotTable.read(spark, t).count()
    assert(live === total - n - n3)
    // compact materializes the deletes and clears the vector list
    SnapshotTable.compact(spark, t, targetMB = 1)
    val mc = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(mc.deleteFiles.isEmpty, "compact must purge deletion vectors")
    assert(SnapshotTable.read(spark, t).count() === live)
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") % 3 === 0 || col("o_orderkey") % 5 === 0)
      .count() === 0L)
  }

  test("deletion vectors: change feed emits exactly the vector-deleted " +
      "rows, reading only the targeted files") {
    val t = freshTable("dvcdc")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    SnapshotTable.deleteWhereVector(spark, t, col("o_orderkey") === key)
    val changes = SnapshotTable.changesBetween(spark, t, 1L, 2L)
    val rows = changes.collect()
    assert(rows.length === 1)
    assert(rows.head.getAs[String]("change_type") === "delete")
    assert(rows.head.getAs[Long]("o_orderkey") === key)
    // IO: only the single DV-targeted data file (plus the delete file
    // itself) is planned — not the other 7
    val dataFilesRead = changes.inputFiles
      .filter(f => f.contains("/data/b-")).toSet
    assert(dataFilesRead.size <= 1,
      s"change feed should read only the targeted file, got $dataFilesRead")
    // update after the vector delete must not resurrect the dead row
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") === key,
      Map("o_orderstatus" -> lit("Z")))
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === key).count() === 0L)
  }

  test("merge-on-read update: original files carry over verbatim, one " +
      "matches-sized batch appends, compact folds the debt") {
    val t = freshTable("mor")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val total = orders.count()
    val (v2, n) = SnapshotTable.updateWhereVector(spark, t,
      col("o_orderkey") % 50 === 0,
      Map("o_orderstatus" -> lit("U")))
    assert(v2 === 2L && n > 0)
    val m1 = SnapshotTable.readManifest(spark, t, 1L)
    val m2 = SnapshotTable.readManifest(spark, t, 2L)
    assert(m1.files.forall(m2.files.contains),
      "merge-on-read must not rewrite or drop any original file")
    assert(m2.files.size > m1.files.size, "the new images append as a batch")
    assert(m2.deleteFiles.nonEmpty, "the old images are vector-deleted")
    val cur = SnapshotTable.read(spark, t)
    assert(cur.count() === total, "an update must preserve row count")
    assert(cur.filter(col("o_orderkey") % 50 === 0)
      .filter(col("o_orderstatus") =!= "U").count() === 0L)
    assert(cur.filter(col("o_orderstatus") === "U").count() === n)
    // no-match update is a version-preserving no-op
    val (v3, n0) = SnapshotTable.updateWhereVector(spark, t,
      col("o_orderkey") === -1L, Map("o_orderstatus" -> lit("Q")))
    assert(v3 === 2L && n0 === 0L)
    // compact folds: vectors purged, counts and values survive
    SnapshotTable.compact(spark, t, targetMB = 1)
    val mc = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(mc.deleteFiles.isEmpty)
    assert(SnapshotTable.read(spark, t).count() === total)
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderstatus") === "U").count() === n)
  }

  test("bloom sidecar index: point lookup opens ~1 of 8 unclustered " +
      "files, mutations keep coverage, results never change") {
    val t = freshTable("bloom")
    SnapshotTable.createBloomIndexed(spark, t, orders,
      Seq("o_orderkey"), numFiles = 8)
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    val probe = SnapshotTable.readWherePoint(spark, t, "o_orderkey", Set(key))
    // unclustered: every file spans the key range, min/max would prune
    // nothing — the bloom must cut 8 files to the 1 holding the key
    // (plus at most a rare false positive)
    assert(probe.inputFiles.length <= 2,
      s"bloom should skip most files, opened ${probe.inputFiles.length}")
    assert(probe.count() === 1L)
    assert(probe.head().getAs[Long]("o_orderkey") === key)
    // a mutation stages a new batch; its sidecar must be written too
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") === key,
      Map("o_orderstatus" -> lit("B")))
    val probe2 = SnapshotTable.readWherePoint(spark, t, "o_orderkey", Set(key))
    assert(probe2.inputFiles.length <= 2,
      "post-mutation probe must still skip on the fresh batch's sidecar")
    assert(probe2.head().getAs[String]("o_orderstatus") === "B")
    // absent key: every bloom rejects, zero files opened, empty result
    val absent = SnapshotTable.readWherePoint(spark, t, "o_orderkey",
      Set(-12345L))
    assert(absent.count() === 0L)
    // multi-value probe equals the plain filter (exactness)
    val keys = orders.filter(col("o_orderkey") % 1111 === 0)
      .collect().map(_.getLong(0)).toSet
    if (keys.nonEmpty) {
      val got = SnapshotTable
        .readWherePoint(spark, t, "o_orderkey", keys)
        .orderBy(col("o_orderkey")).collect().map(_.getLong(0)).toSeq
      assert(got === keys.toSeq.sorted)
    }
    // a table WITHOUT the index answers the same probe unpruned
    val t2 = freshTable("nobloom")
    SnapshotTable.create(spark, t2, orders, numFiles = 4)
    val plain = SnapshotTable.readWherePoint(spark, t2, "o_orderkey", Set(key))
    assert(plain.inputFiles.length === 4, "no sidecar => no pruning")
    assert(plain.count() === 1L)
  }

  test("WAP: publish fails if a commit landed after the candidate's base") {
    val t = freshTable("wapconflict")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    val tok = SnapshotTable.stageAppend(spark, t, orders.limit(5)
      .select((col("o_orderkey") + 7000000).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
    // an independent writer commits first
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 5 === 0)
    val afterConflict = sortedRows(SnapshotTable.read(spark, t))
    val e = intercept[IllegalStateException] {
      SnapshotTable.publishStaged(spark, t, tok)
    }
    assert(e.getMessage.contains("re-stage"))
    assert(SnapshotTable.currentVersion(spark, t) === 2L)
    assert(sortedRows(SnapshotTable.read(spark, t)) === afterConflict,
      "a refused publish must not disturb the committed table")
  }

  test("CDC reconstruction property: across a mixed mutation sequence " +
      "(CoW update, vector delete, MoR update, append), v1 minus the " +
      "feed's deletes plus its inserts rebuilds the final table exactly") {
    val t = freshTable("cdcprop")
    SnapshotTable.create(spark, t, orders, numFiles = 6)
    // a deterministic gauntlet mixing every mutation family
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 9 === 2,
      Map("o_orderstatus" -> lit("A")))
    SnapshotTable.deleteWhereVector(spark, t, col("o_orderkey") % 11 === 5)
    SnapshotTable.updateWhereVector(spark, t, col("o_orderkey") % 13 === 1,
      Map("o_totalprice" -> (col("o_totalprice") * 2)))
    SnapshotTable.append(spark, t, orders.limit(20)
      .select((col("o_orderkey") + 9000000).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 7 === 3)
    val vFinal = SnapshotTable.currentVersion(spark, t)
    val changes = SnapshotTable.changesBetween(spark, t, 1L, vFinal)
      .persist()
    try {
      val ins = changes.filter(col("change_type") === "insert")
        .drop("change_type")
      val del = changes.filter(col("change_type") === "delete")
        .drop("change_type")
      val rebuilt = SnapshotTable.read(spark, t, Some(1L))
        .exceptAll(del).unionAll(ins)
      val want = SnapshotTable.read(spark, t)
      assert(rebuilt.exceptAll(want).count() === 0L &&
        want.exceptAll(rebuilt).count() === 0L,
        "CDC replay must reconstruct the final snapshot as a multiset")
      // and the feed is minimal: no row is both inserted and deleted
      assert(ins.intersect(del).count() === 0L,
        "netting must leave no insert/delete pair of identical rows")
    } finally { changes.unpersist(blocking = false); () }
  }

  test("withCommitRetry: racing writers all land; every batch visible " +
      "exactly once") {
    val t = freshTable("race")
    SnapshotTable.create(spark, t, orders.limit(100), numFiles = 2)
    val writers = 4
    val perWriter = 3
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val tasks = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            (0 until perWriter).foreach { i =>
              SnapshotTable.withCommitRetry(maxAttempts = 20) {
                SnapshotTable.append(spark, t, orders.limit(1)
                  .select(lit(1000000L * (w + 1) + i).as("o_orderkey"),
                    lit(s"W$w").as("o_orderstatus"),
                    lit(1.0d).as("o_totalprice")))
                ()
              }
            }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    assert(SnapshotTable.currentVersion(spark, t) ===
      1L + writers * perWriter,
      "every append must have committed its own version")
    val appended = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") >= 1000000L)
    assert(appended.count() === writers.toLong * perWriter,
      "each racing batch must be visible exactly once")
    assert(appended.select(col("o_orderkey")).distinct().count() ===
      writers.toLong * perWriter)
  }

  test("SQL TVFs: graft_snapshot composes with Catalyst pruning, time " +
      "travel, and the DV-applying read; graft_changes joins like any " +
      "relation") {
    val t = freshTable("tvf")
    SnapshotTable.createClustered(spark, t, orders, "o_orderkey",
      numFiles = 8)
    GraftExtensions.register(spark)
    // a plain SQL filter over the TVF reaches the manifest FileIndex:
    // the narrow range must NOT open all 8 clustered files (asserted
    // via the executed scan's numFiles metric — inputFiles reports the
    // index's full listing, planning-time pruning does not)
    val pruned = spark.sql(
      s"SELECT * FROM graft_snapshot('$t') WHERE o_orderkey BETWEEN 1000 AND 2000")
    assert(pruned.collect().map(_.getLong(0)).toSeq.sorted ===
      orders.filter(col("o_orderkey").between(1000, 2000))
        .collect().map(_.getLong(0)).toSeq.sorted)
    val scanned = pruned.queryExecution.executedPlan.collectLeaves()
      .collectFirst {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.metrics("numFiles").value
      }
    assert(scanned.exists(n => n >= 1 && n <= 3),
      s"TVF + filter should prune via SnapshotFileIndex, scanned $scanned of 8")
    // time travel + change feed through SQL
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 2 === 0)
    val v1Count = spark.sql(
      s"SELECT count(*) AS n FROM graft_snapshot('$t', 1)").head().getLong(0)
    assert(v1Count === orders.count())
    val delCount = spark.sql(
      s"""SELECT count(*) AS n FROM graft_changes('$t', 1, 2)
         |WHERE change_type = 'delete'""".stripMargin).head().getLong(0)
    assert(delCount === orders.filter(col("o_orderkey") % 2 === 0).count())
    // a DV-bearing snapshot routes through the anti-join read (the raw
    // Catalyst scan refuses it) and still answers correctly
    SnapshotTable.deleteWhereVector(spark, t, col("o_orderkey") % 3 === 0)
    val live = spark.sql(
      s"SELECT count(*) AS n FROM graft_snapshot('$t')").head().getLong(0)
    assert(live === orders
      .filter(!(col("o_orderkey") % 2 === 0))
      .filter(!(col("o_orderkey") % 3 === 0)).count())
  }

  test("maintain: compacts fragmented/DV-heavy tables, GCs history and " +
      "orphans, leaves healthy tables alone") {
    val t = freshTable("maint")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    // heavy vector-delete debt (~1/3 of rows) plus crash debris
    SnapshotTable.deleteWhereVector(spark, t, col("o_orderkey") % 3 === 0)
    val debris = SnapshotTable.stageBatch(orders.limit(3), t)
    val live = SnapshotTable.read(spark, t).count()
    val m = SnapshotTable.maintain(spark, t, maxFiles = 64,
      maxDeleteRatio = 0.1, keepLast = 1, graceMs = 0L)
    assert(m.compacted, "a >10% delete ratio must trigger the purge")
    // the debris is gone from disk — swept by whichever GC pass reached
    // it first (expiry's unreferenced-file sweep or the orphan vacuum)
    val fsD = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(debris.forall(r =>
      !fsD.exists(new org.apache.hadoop.fs.Path(t, r))),
      "crash debris must be collected")
    assert(m.manifestsExpired >= 1, "old snapshots must expire")
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.deleteFiles.isEmpty, "maintenance must purge the vectors")
    assert(SnapshotTable.read(spark, t).count() === live)
    // a healthy table: no compaction, nothing to vacuum
    val m2 = SnapshotTable.maintain(spark, t, maxFiles = 64,
      maxDeleteRatio = 0.1, keepLast = 1, graceMs = 0L)
    assert(!m2.compacted && m2.orphanBatchesRemoved === 0)
    assert(SnapshotTable.read(spark, t).count() === live)
  }

  test("expireSnapshots on a PARTITIONED table: nested live data " +
      "survives, expired nested files are collected") {
    val t = freshTable("partexpire")
    SnapshotTable.createPartitioned(spark, t, orders, "o_orderstatus")
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 10 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + 1)))
    val liveRows = sortedRows(SnapshotTable.read(spark, t))
    val (expired, removed) = SnapshotTable.expireSnapshots(spark, t,
      keepLast = 1)
    assert(expired === 1)
    assert(removed >= 1, "v1's replaced nested files must be collected")
    assert(sortedRows(SnapshotTable.read(spark, t)) === liveRows,
      "the current partitioned snapshot must survive expiry intact")
  }

  test("SnapshotFileIndex: DATE literals prune on ISO stats without " +
      "excluding matching files") {
    import graft.sources.SnapshotScan
    val t = freshTable("datestats")
    // the corpus ships l_shipdate as TIMESTAMP; derive a true DATE
    // column (timestamp literals stay deliberately unprunable)
    val items = Tables.lineitem(spark, sf)
      .select(col("l_orderkey"), to_date(col("l_shipdate")).as("l_shipdate"),
        col("l_quantity"))
    SnapshotTable.createClustered(spark, t, items, "l_shipdate",
      numFiles = 8, statsCols = Seq("l_shipdate"))
    val (df, idx) = SnapshotScan.scan(spark, t)
    val lo = java.sql.Date.valueOf("1995-01-01")
    val hi = java.sql.Date.valueOf("1995-03-31")
    val got = df.filter(col("l_shipdate").between(lo, hi)).count()
    val want = items.filter(col("l_shipdate").between(lo, hi)).count()
    assert(got === want,
      "date-literal pruning must never exclude matching files")
    assert(want > 0, "the probe range should be non-empty at this sf")
    assert(idx.lastPlannedFiles < 8,
      s"a ~3-month range over date-clustered files should prune, " +
        s"planned ${idx.lastPlannedFiles}")
  }

  test("q_table_changes equals the first-principles logical diff") {
    val got = SnapshotTable.queries("q_table_changes")(spark, sf).collect()
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val fin = o.select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 100 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .filter(!(col("o_orderkey") % 17 === 3))
    val expect = fin.exceptAll(o).withColumn("change_type", lit("insert"))
      .unionAll(o.exceptAll(fin).withColumn("change_type", lit("delete")))
      .orderBy(col("change_type").asc_nulls_first,
        col("o_orderkey").asc_nulls_first)
    assert(got.map(_.toString).toSeq ===
      expect.collect().map(_.toString).toSeq)
  }

  test("timestamp stats prune files (epoch-micros recording), and " +
      "IS [NOT] NULL prunes on per-file null counts") {
    val t = freshTable("tsnull")
    import graft.sources.SnapshotScan
    def bucket(fromId: Long, toId: Long, nullV: Boolean) =
      spark.range(fromId, toId).select(
        expr("timestamp_micros(1700000000000000 + id * 60000000)").as("ts"),
        (if (nullV) lit(null).cast("double")
         else col("id").cast("double")).as("v"),
        col("id"))
    // deterministic per-file content: one file per bucket; bucket 0 is
    // all-NULL in v, the others null-free
    SnapshotTable.createClustered(spark, t,
      bucket(0, 100, nullV = true).repartition(1), "ts", numFiles = 1,
      statsCols = Seq("ts", "v"))
    SnapshotTable.append(spark, t, bucket(100, 200, nullV = false)
      .repartition(1))
    SnapshotTable.append(spark, t, bucket(200, 300, nullV = false)
      .repartition(1))
    assert(SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).files.size === 3)
    val lo = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + 600))
    val hi = java.sql.Timestamp.from(
      java.time.Instant.ofEpochSecond(1700000000L + 1200))
    // Catalyst pushdown: a narrow timestamp range plans 1 of 3 files
    val (scanDf, idx) = SnapshotScan.scan(spark, t)
    assert(scanDf.filter(col("ts").between(lit(lo), lit(hi)))
      .count() === 11L)
    assert(idx.lastPlannedFiles === 1,
      s"a narrow timestamp range must plan 1 of 3 files, " +
        s"planned ${idx.lastPlannedFiles}")
    // the explicit range read prunes the same way (Timestamp bounds)
    val ranged = SnapshotTable.readWhereRange(spark, t, "ts", lo, hi)
    assert(ranged.inputFiles.length === 1)
    assert(ranged.filter(col("ts").between(lit(lo), lit(hi)))
      .count() === 11L)
    // IS NOT NULL skips the all-null file; IS NULL skips null-free ones
    val (scan2, idx2) = SnapshotScan.scan(spark, t)
    assert(scan2.filter(col("v").isNotNull).count() === 200L)
    assert(idx2.lastPlannedFiles === 2,
      "the all-null file must be skipped for IS NOT NULL")
    val (scan3, idx3) = SnapshotScan.scan(spark, t)
    assert(scan3.filter(col("v").isNull).count() === 100L)
    assert(idx3.lastPlannedFiles === 1,
      "null-free files must be skipped for IS NULL")
  }

  test("delta manifests: append commit metadata is O(churn) not " +
      "O(files), chains re-anchor at max depth, expiry retains chain " +
      "manifests kept versions resolve through") {
    val t = freshTable("deltachain")
    SnapshotTable.create(spark, t, orders, numFiles = 40)
    val f = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifestBytes(v: Long): Long = f.getFileStatus(
      new org.apache.hadoop.fs.Path(t, f"_manifests/v$v%d.manifest")).getLen
    val fullBytes = manifestBytes(1L)
    val one = orders.limit(5).repartition(1)
    (1 to 3).foreach(_ => SnapshotTable.append(spark, t, one))
    assert(SnapshotTable.readManifest(spark, t, 4L).files.size === 43)
    (2L to 4L).foreach { v =>
      assert(manifestBytes(v) < fullBytes / 3,
        s"append commit v$v must write churn-sized metadata " +
          s"(${manifestBytes(v)} B vs full $fullBytes B)")
    }
    assert(SnapshotTable.read(spark, t).count() === orders.count() + 15)
    // a file-granular delete rides a delta too and reads back exactly
    val (_, deleted, _) = SnapshotTable.deleteWhere(spark, t,
      col("o_orderkey") % 5 === 1)
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") % 5 === 1).count() === 0L)
    assert(deleted > 0L)
    // the chain re-anchors with a FULL manifest at MaxChainDepth
    var lastV = SnapshotTable.currentVersion(spark, t)
    while (SnapshotTable.readManifest(spark, t, lastV).depth < 16)
      lastV = SnapshotTable.append(spark, t, one)
    val reanchored = SnapshotTable.append(spark, t, one)
    assert(SnapshotTable.readManifest(spark, t, reanchored).depth === 0,
      "the commit after a depth-16 chain must re-anchor full")
    assert(manifestBytes(reanchored) > manifestBytes(reanchored - 1),
      "the re-anchor is the full manifest, its predecessor a delta")
    // expire down to a DELTA current version: its chain manifests must
    // be retained (or the kept version could no longer resolve)
    val tip = SnapshotTable.append(spark, t, one) // delta on reanchored
    val rows = SnapshotTable.read(spark, t).count()
    SnapshotTable.expireSnapshots(spark, t, keepLast = 1)
    assert(SnapshotTable.read(spark, t).count() === rows,
      "the kept delta version must still resolve after expiry")
    assert(SnapshotTable.currentVersion(spark, t) === tip)
    assert(f.exists(new org.apache.hadoop.fs.Path(t,
      f"_manifests/v$reanchored%d.manifest")),
      "the chain base the kept delta resolves through must be retained")
    assert(!f.exists(new org.apache.hadoop.fs.Path(t,
      "_manifests/v1.manifest")),
      "manifests outside every kept chain must still expire")
  }

  test("CROSS-PROCESS commit race: two forked JVMs + this one, every " +
      "commit lands exactly once with a contiguous version chain") {
    val t = freshTable("xproc")
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("x",
        org.apache.spark.sql.types.LongType)))
    SnapshotTable.commitManifest(spark, t,
      SnapshotTable.Snapshot(0L, schema, Nil, Map("w" -> "init-0")),
      0L) // v1
    val perWorker = 6
    // Test/fork := true, so java.class.path IS the full test classpath
    val javaBin = System.getProperty("java.home") + "/bin/java"
    val cp = System.getProperty("java.class.path")
    val opens = Seq(
      "java.base/java.lang", "java.base/java.lang.invoke",
      "java.base/java.lang.reflect", "java.base/java.io",
      "java.base/java.net", "java.base/java.nio",
      "java.base/java.util", "java.base/java.util.concurrent",
      "java.base/java.util.concurrent.atomic",
      "java.base/sun.nio.ch", "java.base/sun.nio.cs",
      "java.base/sun.security.action", "java.base/sun.util.calendar"
    ).flatMap(p => Seq("--add-opens", s"$p=ALL-UNNAMED"))
    def spawn(id: String): (Process, java.io.File) = {
      val cmd = (Seq(javaBin) ++ opens ++ Seq("-Xmx1g", "-cp", cp,
        "-Dspark.ui.enabled=false",
        "graft.tools.CommitWorker", t, perWorker.toString, id))
      val pb = new ProcessBuilder(cmd: _*)
      // file-redirected output: a pipe would fill with Spark startup
      // logs and block the child while this JVM is still committing
      val outFile = java.io.File.createTempFile(s"xproc-$id", ".log")
      pb.redirectErrorStream(true)
      pb.redirectOutput(outFile)
      (pb.start(), outFile)
    }
    val p1 = spawn("jvmA")
    val p2 = spawn("jvmB")
    // ...while THIS JVM commits concurrently through the same protocol
    (1 to perWorker).foreach { i =>
      SnapshotTable.withCommitRetry(maxAttempts = 200) {
        val cur = SnapshotTable.currentVersion(spark, t)
        val files = SnapshotTable.readManifest(spark, t, cur).files
        SnapshotTable.commitManifest(spark, t,
          SnapshotTable.Snapshot(cur, schema, files, Map("w" -> s"self-$i")),
          cur)
      }
    }
    def drain(pf: (Process, java.io.File), id: String): Unit = {
      val (p, f) = pf
      assert(p.waitFor(240, java.util.concurrent.TimeUnit.SECONDS),
        s"worker $id did not finish")
      val out = new String(
        java.nio.file.Files.readAllBytes(f.toPath), "UTF-8")
      f.delete()
      assert(p.exitValue === 0, s"worker $id failed:\n${out.takeRight(2000)}")
      assert(out.contains(s"COMMIT_WORKER_DONE $id"),
        s"worker $id did not report completion:\n${out.takeRight(2000)}")
    }
    drain(p1, "jvmA")
    drain(p2, "jvmB")
    val finalV = SnapshotTable.currentVersion(spark, t)
    assert(finalV === 1L + 3 * perWorker,
      "every commit must land exactly once (no overwrites, no gaps)")
    val tags = (1L to finalV).map(v =>
      SnapshotTable.readManifest(spark, t, v).meta("w")).toSet
    val expected = (Set("init-0") ++
      (1 to perWorker).flatMap(i =>
        Seq(s"jvmA-$i", s"jvmB-$i", s"self-$i")).toSet)
    assert(tags === expected,
      "each writer's every tagged commit must appear in the chain")
  }

  test("SQL DML: graft_dml procedure runs UPDATE/DELETE/MERGE through " +
      "spark.sql with file granularity") {
    val t = freshTable("sqldml")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    GraftExtensions.register(spark)
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    val r1 = spark.sql(
      s"""SELECT * FROM graft_dml("UPDATE `$t` SET o_orderstatus = 'Q' """ +
        s"""WHERE o_orderkey = $key")""").head()
    assert(r1.getString(0) === "update")
    assert(r1.getLong(1) === 2L)
    assert(r1.getLong(2) === 1L)
    assert(r1.getLong(3) === 1L,
      "a 1-key SQL update must rewrite exactly 1 file")
    val before = SnapshotTable.readManifest(spark, t, 1L)
    val after = SnapshotTable.readManifest(spark, t, 2L)
    assert(before.files.toSet.intersect(after.files.toSet).size === 7,
      "the 7 untouched files must carry over through the SQL verb")
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderstatus") === "Q").count() === 1L)
    val r2 = spark.sql(
      s"""SELECT * FROM graft_dml("DELETE FROM `$t` """ +
        s"""WHERE o_orderkey = $key")""").head()
    assert(r2.getString(0) === "delete" && r2.getLong(2) === 1L)
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === key).count() === 0L)
    // merge re-inserts the deleted key and updates another
    val k2 = orders.filter(col("o_orderkey") =!= key)
      .select(min(col("o_orderkey"))).head().getLong(0)
    orders.filter(col("o_orderkey").isin(key, k2))
      .select(col("o_orderkey"), lit("R").as("o_orderstatus"),
        col("o_totalprice"))
      .createOrReplaceTempView("sqldml_src")
    val r3 = spark.sql(
      s"""SELECT * FROM graft_dml("MERGE INTO `$t` tg """ +
        """USING sqldml_src sr ON tg.o_orderkey = sr.o_orderkey """ +
        """WHEN MATCHED THEN UPDATE SET * """ +
        """WHEN NOT MATCHED THEN INSERT *")""").head()
    assert(r3.getString(0) === "merge" && r3.getLong(2) === 2L)
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_orderstatus") === "R").count() === 2L)
    // INSERT INTO with an explicit column list (reordered): columns
    // align by name and the int literal casts to the bigint key
    val nBefore = SnapshotTable.read(spark, t).count()
    val r4 = spark.sql(
      s"""SELECT * FROM graft_dml("INSERT INTO `$t` """ +
        """(o_orderstatus, o_orderkey, o_totalprice) """ +
        """VALUES ('Z', 999999991, CAST(7.5 AS DOUBLE)), """ +
        """('Z', 999999992, CAST(8.5 AS DOUBLE))")""").head()
    assert(r4.getString(0) === "insert" && r4.getLong(2) === 2L)
    assert(SnapshotTable.read(spark, t).count() === nBefore + 2)
    val ins = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === 999999991L).head()
    assert(ins.getAs[String]("o_orderstatus") === "Z")
    assert(ins.getAs[Double]("o_totalprice") === 7.5)
    // a SUBSET column list is legal (standard SQL / Delta): omitted
    // nullable columns fill with typed NULLs, never a hard error
    val r4b = spark.sql(
      s"""SELECT * FROM graft_dml("INSERT INTO `$t` """ +
        """(o_orderkey) VALUES (999999993)")""").head()
    assert(r4b.getString(0) === "insert" && r4b.getLong(2) === 1L)
    val insNull = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === 999999993L).head()
    assert(insNull.isNullAt(insNull.fieldIndex("o_orderstatus")) &&
      insNull.isNullAt(insNull.fieldIndex("o_totalprice")),
      "omitted columns must land as typed NULLs")
    // unknown names and duplicates in the list stay hard errors
    val exCols = intercept[Exception] { spark.sql(
      s"""SELECT * FROM graft_dml("INSERT INTO `$t` """ +
        """(o_orderkey, nope) VALUES (1, 2)")""").head() }
    assert(exCols.getMessage.contains("unknown columns"))
    // INSERT OVERWRITE atomically replaces the whole table in ONE
    // commit; the replaced version stays time-travelable
    val vBefore = SnapshotTable.currentVersion(spark, t)
    val rOw = spark.sql(
      s"""SELECT * FROM graft_dml("INSERT OVERWRITE `$t` """ +
        """SELECT * FROM sqldml_src")""").head()
    assert(rOw.getString(0) === "insert_overwrite" &&
      rOw.getLong(2) === 2L)
    assert(SnapshotTable.read(spark, t).count() === 2L)
    assert(SnapshotTable.read(spark, t, Some(vBefore)).count() ===
      nBefore + 3, "the replaced version must stay time-travelable")
    val ex = intercept[Exception] {
      spark.sql("""SELECT * FROM graft_dml("SELECT 1")""")
    }
    assert(ex.getMessage.contains("UPDATE / DELETE / MERGE"))
  }

  test("native UPDATE/DELETE/MERGE statements execute on an " +
      "extensions-built session; non-snapshot targets pass through") {
    val t = freshTable("nativedml")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    val r1 = s2.sql(s"UPDATE `$t` SET o_orderstatus = 'N' " +
      s"WHERE o_orderkey = $key").head()
    assert(r1.getString(0) === "update" && r1.getLong(2) === 1L)
    val r2 = s2.sql(s"DELETE FROM `$t` WHERE o_orderkey = $key").head()
    assert(r2.getLong(2) === 1L)
    // merge with an inline subquery source: the deleted key re-inserts
    val r3 = s2.sql(s"MERGE INTO `$t` tg USING (SELECT $key AS " +
      "o_orderkey, 'V' AS o_orderstatus, CAST(1.5 AS DOUBLE) AS " +
      "o_totalprice) sr ON tg.o_orderkey = sr.o_orderkey " +
      "WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").head()
    assert(r3.getString(0) === "merge" && r3.getLong(2) === 1L)
    assert(SnapshotTable.read(spark, t).filter(col("o_orderkey") === key)
      .head().getAs[String]("o_orderstatus") === "V")
    // native INSERT INTO ... SELECT lowers to the atomic append
    val r4 = s2.sql(s"INSERT INTO `$t` SELECT o_orderkey + 900000000, " +
      s"'W' AS o_orderstatus, o_totalprice FROM parquet.`$sf/orders" +
      ".parquet` WHERE o_orderkey % 1000 = 1").head()
    assert(r4.getString(0) === "insert")
    assert(r4.getLong(2) === SnapshotTable.read(spark, t)
      .filter(col("o_orderstatus") === "W").count())
    assert(r4.getLong(2) > 0L)
    // a DML on a non-snapshot target is left for Spark's own handling
    intercept[Exception] { s2.sql("UPDATE nonexistent_tbl SET x = 1") }
  }

  test("UPDATE binds every assignment and the predicate against the " +
      "OLD row (simultaneous SQL semantics, not a sequential fold)") {
    import spark.implicits._
    val t = freshTable("updsem")
    SnapshotTable.create(spark, t,
      Seq((1L, 10.0, 20.0), (2L, 3.0, 4.0)).toDF("k", "a", "b"),
      numFiles = 1)
    // swap: SET a = b, b = a must exchange the values
    SnapshotTable.updateWhere(spark, t, col("k") === 1L,
      Map("a" -> col("b"), "b" -> col("a")))
    val r1 = SnapshotTable.read(spark, t).filter(col("k") === 1L).head()
    assert(r1.getDouble(1) === 20.0 && r1.getDouble(2) === 10.0,
      "SET a = b, b = a must swap, not propagate the overwritten a")
    // predicate on an assigned column: SET a = 0, b = 99 WHERE a > 5 —
    // b must update on exactly the rows that matched on the OLD a
    SnapshotTable.updateWhere(spark, t, col("a") > 5.0,
      Map("a" -> lit(0.0), "b" -> lit(99.0)))
    val rows = SnapshotTable.read(spark, t).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1), r.getDouble(2)))
    assert(rows.toSeq === Seq((1L, 0.0, 99.0), (2L, 3.0, 4.0)),
      s"predicate must see the pre-update a: ${rows.toSeq}")
    // merge-on-read takes the same rule
    SnapshotTable.updateWhereVector(spark, t, col("k") === 2L,
      Map("a" -> col("b"), "b" -> col("a")))
    val r2 = SnapshotTable.read(spark, t).filter(col("k") === 2L).head()
    assert(r2.getDouble(1) === 4.0 && r2.getDouble(2) === 3.0,
      "merge-on-read SET a = b, b = a must swap too")
    // ...and the SQL surface end to end
    GraftExtensions.register(spark)
    spark.sql(s"""SELECT * FROM graft_dml("UPDATE `$t` """ +
      """SET a = b, b = a WHERE k = 1")""").collect()
    val r3 = SnapshotTable.read(spark, t).filter(col("k") === 1L).head()
    assert(r3.getDouble(1) === 99.0 && r3.getDouble(2) === 0.0)
  }

  test("UPDATE casts assignments to the declared column type, rejects " +
      "unknown/duplicate/qualified SET targets; INSERT BY NAME aligns " +
      "by name") {
    import spark.implicits._
    val t = freshTable("updcast")
    // Option[_] keeps v NULLABLE (product encoders make primitives
    // non-null), which the BY-NAME-subset NULL-fill below needs
    SnapshotTable.create(spark, t,
      Seq((1L, Option(10.0)), (2L, Option(20.0))).toDF("k", "v"),
      numFiles = 1)
    // int literal into a double column stays double-typed parquet —
    // the committed version must remain readable under the schema
    SnapshotTable.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit(7)))
    assert(SnapshotTable.read(spark, t).filter(col("k") === 1L)
      .head().getDouble(1) === 7.0)
    // merge-on-read path casts too
    SnapshotTable.updateWhereVector(spark, t, col("k") === 2L,
      Map("v" -> lit(9)))
    assert(SnapshotTable.read(spark, t).filter(col("k") === 2L)
      .head().getDouble(1) === 9.0)
    // a typo'd SET target errors instead of silently rewriting files
    intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, t, lit(true),
        Map("vv" -> lit(0.0)))
    }
    GraftExtensions.register(spark)
    // duplicate and struct-qualified SET targets are rejected in SQL
    intercept[Exception] { spark.sql(
      s"""SELECT * FROM graft_dml("UPDATE `$t` SET v = 1, v = 2")""") }
    intercept[Exception] { spark.sql(
      s"""SELECT * FROM graft_dml("UPDATE `$t` SET s.inner = 1")""") }
    // INSERT BY NAME aligns by the query's column names, not position
    spark.sql(s"""SELECT * FROM graft_dml("INSERT INTO `$t` BY NAME """ +
      """SELECT CAST(5.5 AS DOUBLE) AS v, 30 AS k")""").collect()
    assert(SnapshotTable.read(spark, t).filter(col("k") === 30L)
      .head().getDouble(1) === 5.5,
      "BY NAME must put 5.5 in v and 30 in k, never positionally")
    // BY NAME with a SUBSET of columns: omitted nullable columns fill
    // with typed NULLs (Delta semantics); unknown names stay errors
    spark.sql(s"""SELECT * FROM graft_dml("INSERT INTO `$t` BY NAME """ +
      """SELECT 31 AS k")""").collect()
    val sub = SnapshotTable.read(spark, t).filter(col("k") === 31L).head()
    assert(sub.isNullAt(sub.fieldIndex("v")),
      "BY NAME subset must NULL-fill omitted columns")
    val exbn = intercept[Exception] { spark.sql(
      s"""SELECT * FROM graft_dml("INSERT INTO `$t` BY NAME """ +
        """SELECT 1 AS nope")""").collect() }
    assert(exbn.getMessage.contains("unknown columns"))
  }

  test("retention floor: expired chain-retained versions are excluded " +
      "from history and fail fast on read") {
    val t = freshTable("retfloor")
    SnapshotTable.create(spark, t, orders, numFiles = 2)
    // build a delta chain: several appends
    (1 to 4).foreach(_ =>
      SnapshotTable.append(spark, t, orders.limit(5)))
    assert(SnapshotTable.currentVersion(spark, t) === 5L)
    SnapshotTable.expireSnapshots(spark, t, keepLast = 2)
    assert(SnapshotTable.retentionFloor(spark, t) === 4L)
    // history only advertises readable versions
    assert(SnapshotTable.history(spark, t).collect()
      .map(_.getLong(0)).toSeq === Seq(4L, 5L))
    // a read below the floor fails FAST with a clear error, not a
    // mid-scan FileNotFoundException through a chain-retained manifest
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.readManifest(spark, t, 2L)
    }
    assert(ex.getMessage.contains("retention floor"))
    // the kept versions read fine
    assert(SnapshotTable.read(spark, t, Some(4L)).count() > 0)
  }

  test("MERGE casts the source to the table schema — a mistyped source " +
      "must not commit an unreadable version") {
    import spark.implicits._
    val t = freshTable("mergecast")
    SnapshotTable.create(spark, t,
      Seq((1L, 10.0), (2L, 20.0)).toDF("k", "v"), numFiles = 1)
    // int key + int value source: without the cast this stages int32
    // parquet under a bigint/double schema and every later read fails
    val src = Seq((2, 99), (3, 30)).toDF("k", "v")
    val (_, updated, inserted, _) =
      SnapshotTable.mergeInto(spark, t, src, "k")
    assert(updated === 1L && inserted === 1L)
    val rows = SnapshotTable.read(spark, t).orderBy(col("k"))
      .collect().map(r => (r.getLong(0), r.getDouble(1)))
    assert(rows.toSeq === Seq((1L, 10.0), (2L, 99.0), (3L, 30.0)))
  }

  test("CHECK constraints: violating batches rejected atomically with " +
      "staged files cleaned; null = violation; add validates existing " +
      "data; drop restores") {
    val t = freshTable("constraints")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    // a constraint the existing data violates fails and commits nothing
    val v0 = SnapshotTable.currentVersion(spark, t)
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.addConstraint(spark, t, "impossible",
        "o_totalprice > 1e12")
    }
    assert(SnapshotTable.currentVersion(spark, t) === v0)
    SnapshotTable.addConstraint(spark, t, "positive_price",
      "o_totalprice > 0")
    val beforeRows = sortedRows(SnapshotTable.read(spark, t))
    val vBefore = SnapshotTable.currentVersion(spark, t)
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, t,
        orders.limit(10).withColumn("o_totalprice", lit(-5.0)))
    }
    assert(SnapshotTable.currentVersion(spark, t) === vBefore,
      "a rejected batch must commit nothing")
    assert(sortedRows(SnapshotTable.read(spark, t)) === beforeRows)
    // no leaked staged parquet: every data file on disk is in the
    // manifest (the rejected batch's files were deleted)
    val manifestFiles = SnapshotTable.readManifest(spark, t, vBefore)
      .files.toSet
    val onDisk = {
      import scala.jdk.CollectionConverters._
      val base = java.nio.file.Paths.get(t)
      val s = java.nio.file.Files.walk(base)
      try s.iterator().asScala
        .filter(_.toString.endsWith(".parquet"))
        .map(p => base.relativize(p).toString).toSet
      finally s.close()
    }
    assert(onDisk === manifestFiles,
      s"rejected staged files must be cleaned: ${onDisk -- manifestFiles}")
    // a violating UPDATE rewrite is rejected too; NULL counts as a
    // violation (the Delta rule)
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 2 === 0,
        Map("o_totalprice" -> lit(-1.0)))
    }
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 2 === 0,
        Map("o_totalprice" -> lit(null).cast("double")))
    }
    assert(sortedRows(SnapshotTable.read(spark, t)) === beforeRows)
    // valid mutations pass; drop restores free writes
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 2 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + 1)))
    SnapshotTable.dropConstraint(spark, t, "positive_price")
    SnapshotTable.append(spark, t,
      orders.limit(5).withColumn("o_totalprice", lit(-5.0)))
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_totalprice") < 0).count() === 5L)
    // the SQL surface: ALTER TABLE ADD/DROP CONSTRAINT through the
    // graft_dml procedure and the native statement both lower onto the
    // same verbs
    GraftExtensions.register(spark)
    val rAdd = spark.sql(
      s"""SELECT * FROM graft_dml("ALTER TABLE `$t` ADD CONSTRAINT """ +
        """nonneg CHECK (o_totalprice > -100)")""").head()
    assert(rAdd.getString(0) === "add_constraint")
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, t,
        orders.limit(3).withColumn("o_totalprice", lit(-500.0)))
    }
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    assert(s2.sql(s"ALTER TABLE `$t` DROP CONSTRAINT nonneg").head()
      .getString(0) === "drop_constraint")
    SnapshotTable.append(spark, t,
      orders.limit(3).withColumn("o_totalprice", lit(-500.0)))
    assert(SnapshotTable.read(spark, t)
      .filter(col("o_totalprice") === -500.0).count() === 3L)
  }

  test("CHECK constraints cover the partitioned and WAP staging paths") {
    // partitioned tables stage through the labeled stageBatch layout
    // (partition dirs, hash on the labels); enforcement must be identical
    val t = freshTable("consppart")
    SnapshotTable.createPartitioned(spark, t, orders
      .withColumn("part", col("o_orderstatus")), "part")
    SnapshotTable.addConstraint(spark, t, "positive_price",
      "o_totalprice > 0")
    val vBefore = SnapshotTable.currentVersion(spark, t)
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.append(spark, t, orders.limit(10)
        .withColumn("part", col("o_orderstatus"))
        .withColumn("o_totalprice", lit(-2.0)))
    }
    assert(SnapshotTable.currentVersion(spark, t) === vBefore)
    // a WAP stage of a violating batch is rejected before any
    // candidate manifest exists — audit never sees poisoned data
    intercept[SnapshotTable.ConstraintViolationException] {
      SnapshotTable.stageAppend(spark, t, orders.limit(10)
        .withColumn("part", col("o_orderstatus"))
        .withColumn("o_totalprice", lit(-2.0)))
    }
    // valid batches pass through both paths
    SnapshotTable.append(spark, t, orders.limit(10)
      .withColumn("part", col("o_orderstatus")))
    assert(SnapshotTable.currentVersion(spark, t) === vBefore + 1)
  }

  test("history: one metadata-only row per retained version with churn " +
      "counts; graft_history TVF reads it from SQL") {
    val t = freshTable("history")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    SnapshotTable.append(spark, t, orders.limit(10))
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") === key,
      Map("o_orderstatus" -> lit("H")))
    val h = SnapshotTable.history(spark, t)
      .orderBy(col("version")).collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h(0).getInt(2) === 4 && h(0).isNullAt(3),
      "v1 has no predecessor — churn columns must be NULL")
    assert(h(1).getInt(2) === 5 && h(1).getInt(3) === 1 &&
      h(1).getInt(4) === 0, "append adds 1 file, removes 0")
    // the key lives in 1 base file and possibly the appended batch —
    // CoW rewrites exactly the touched files, so added == removed ≤ 2
    assert(h(2).getInt(2) === 5 && h(2).getInt(3) === h(2).getInt(4) &&
      h(2).getInt(3) >= 1 && h(2).getInt(3) <= 2,
      "a 1-key update rewrites only the touched files")
    assert(h.forall(!_.isNullAt(1)), "every version has a commit time")
    GraftExtensions.register(spark)
    val sqlH = spark.sql(s"SELECT version, n_files, files_added " +
      s"FROM graft_history('$t') ORDER BY version").collect()
    assert(sqlH.map(r => (r.getLong(0), r.getInt(1))).toSeq ===
      Seq((1L, 4), (2L, 5), (3L, 5)))
  }

  test("SQL DDL: CREATE TABLE AS and DROP TABLE through both surfaces") {
    val t = freshTable("sqlctas")
    GraftExtensions.register(spark)
    val r1 = spark.sql(
      s"""SELECT * FROM graft_dml("CREATE TABLE `$t` AS """ +
        s"""SELECT * FROM parquet.`$sf/orders.parquet` """ +
        """WHERE o_orderkey % 3 = 0")""").head()
    assert(r1.getString(0) === "create" && r1.getLong(1) === 1L)
    val expect = spark.read.parquet(s"$sf/orders.parquet")
      .filter(col("o_orderkey") % 3 === 0).count()
    assert(r1.getLong(2) === expect)
    assert(SnapshotTable.read(spark, t).count() === expect)
    // IF NOT EXISTS on an existing table is a no-op; without it, error
    val r2 = spark.sql(
      s"""SELECT * FROM graft_dml("CREATE TABLE IF NOT EXISTS `$t` """ +
        """AS SELECT 1 AS x")""").head()
    assert(r2.getString(0) === "create" && r2.getLong(2) === 0L)
    assert(SnapshotTable.read(spark, t).count() === expect)
    intercept[Exception] { spark.sql(
      s"""SELECT * FROM graft_dml("CREATE TABLE `$t` AS SELECT 1 AS x")""") }
    // native surface: PARTITIONED CTAS — the DDL-created table prunes
    // partitions like one built through the Scala API
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val t2 = freshTable("sqlctasp")
    val r3 = s2.sql(s"CREATE TABLE `$t2` PARTITIONED BY (o_orderstatus) " +
      s"AS SELECT o_orderkey, o_orderstatus, o_totalprice FROM " +
      s"parquet.`$sf/orders.parquet`").head()
    assert(r3.getString(0) === "create")
    val all = spark.read.parquet(s"$sf/orders.parquet")
    val pr = SnapshotTable.readWhere(spark, t2, Set("F"))
    assert(pr.count() === all.filter(col("o_orderstatus") === "F").count())
    assert(pr.inputFiles.length <
      SnapshotTable.read(spark, t2).inputFiles.length,
      "partition pruning must open fewer files than the full scan")
    // native DROP removes the tree; IF EXISTS on a missing table is a
    // no-op; a non-snapshot dir refuses (the _manifests guard)
    assert(s2.sql(s"DROP TABLE `$t2`").head().getString(0) === "drop")
    assert(!new java.io.File(t2).exists())
    assert(s2.sql(s"DROP TABLE IF EXISTS `$t2`").head()
      .getString(0) === "drop")
    val plainDir = freshTable("plaindir")
    new java.io.File(plainDir).mkdirs()
    intercept[Exception] { spark.sql(
      s"""SELECT * FROM graft_dml("DROP TABLE `$plainDir`")""") }
    assert(new java.io.File(plainDir).exists(),
      "a non-snapshot directory must survive DROP TABLE")
  }

  test("q_table_sql_dml equals the replayed update+delete+merge+insert") {
    val got = SnapshotTable.queries("q_table_sql_dml")(spark, sf)
    val o = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
        col("o_totalprice"))
    val afterud = o.select(col("o_orderkey"), col("o_custkey"),
        when(col("o_orderkey") % 100 === 0, lit("X"))
          .otherwise(col("o_orderstatus")).as("o_orderstatus"),
        when(col("o_orderkey") % 100 === 0, col("o_totalprice") * 2)
          .otherwise(col("o_totalprice")).as("o_totalprice"))
      .filter(!(col("o_orderkey") % 17 === 3))
    val src = o.filter(col("o_orderkey") % 50 === 0)
      .select(col("o_orderkey"), col("o_custkey"),
        lit("M").as("o_orderstatus"),
        (col("o_totalprice") + 100000).as("o_totalprice"))
      .union(o.filter(col("o_orderkey") % 1000 === 7)
        .select((col("o_orderkey") + 10000000).as("o_orderkey"),
          col("o_custkey"), lit("N").as("o_orderstatus"),
          col("o_totalprice")))
    val s2 = src.select(col("o_orderkey").as("__k"),
      col("o_custkey").as("s_ck"), col("o_orderstatus").as("s_os"),
      col("o_totalprice").as("s_tp"))
    val expect = afterud.join(s2, afterud("o_orderkey") === col("__k"),
        "left_outer")
      .select(col("o_orderkey"),
        coalesce(col("s_ck"), col("o_custkey")).as("o_custkey"),
        coalesce(col("s_os"), col("o_orderstatus")).as("o_orderstatus"),
        coalesce(col("s_tp"), col("o_totalprice")).as("o_totalprice"))
      .unionAll(src.join(afterud.select(col("o_orderkey")),
        Seq("o_orderkey"), "left_anti"))
      .unionAll(o.filter(col("o_orderkey") % 500 === 11)
        .select((col("o_orderkey") + 20000000).as("o_orderkey"),
          col("o_custkey"), lit("I").as("o_orderstatus"),
          col("o_totalprice")))
      .orderBy(col("o_orderkey").asc_nulls_first)
    assert(got.collect().map(_.toString).toSeq ===
      expect.collect().map(_.toString).toSeq)
  }

  test("partitioned mutations and CDC survive URI-special partition " +
      "values (space, literal %, Hive-escaped = and :)") {
    val t = freshTable("partenc")
    import spark.implicits._
    // "a b": space stays literal on disk but renders %20 in
    // _metadata.file_path; "p%20q": literal % is Hive-escaped to %25 on
    // disk and %2525 in the URI; "x=y:z": both chars Hive-escaped.
    // Before the pctDecode fix every one of these partitions was
    // silently unreachable by the mutation verbs (0 matches reported).
    val df = Seq(
      (1L, "a b", 10.0), (2L, "a b", 20.0),
      (3L, "p%20q", 30.0), (4L, "x=y:z", 40.0), (5L, "plain", 50.0)
    ).toDF("k", "part", "v")
    SnapshotTable.createPartitioned(spark, t, df, "part")
    val (_, m, rw) = SnapshotTable.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit(11.0)))
    assert(m === 1L && rw === 1,
      "the space-partition file must be found and rewritten")
    val (_, del, _) =
      SnapshotTable.deleteWhere(spark, t, col("part") === "p%20q")
    assert(del === 1L, "the literal-% partition must be reachable")
    val src = Seq((4L, "x=y:z", 44.0), (6L, "a b", 60.0))
      .toDF("k", "part", "v")
    val (v4, upd, ins, _) = SnapshotTable.mergeInto(spark, t, src, "k")
    assert(upd === 1L && ins === 1L)
    val (v5, dv) = SnapshotTable.deleteWhereVector(spark, t, col("k") === 2L)
    assert(dv === 1L)
    // the DV stores its file key in the encoded __fk space; the change
    // feed must decode it to find the affected manifest file
    val changes = SnapshotTable.changesBetween(spark, t, v4, v5)
    assert(changes.filter(col("change_type") === "delete").count() === 1L,
      "the vector delete in an encoded partition dir must surface in CDC")
    val fin = SnapshotTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(fin === Set((1L, "a b", 11.0), (4L, "x=y:z", 44.0),
      (5L, "plain", 50.0), (6L, "a b", 60.0)))
    // expiry must not eat live files in encoded partition dirs
    SnapshotTable.expireSnapshots(spark, t, keepLast = 1)
    assert(SnapshotTable.read(spark, t).count() === 4L)
  }

  test("partitioned mutations, stats and CDC survive non-ASCII " +
      "(multi-byte UTF-8) partition values") {
    val t = freshTable("partutf8")
    import spark.implicits._
    // escapePathName leaves non-ASCII literal on disk, but the URI
    // space (_metadata.file_path, Path.toUri) renders each code point
    // as a RUN of %xx escapes: é -> %C3%A9, 語 -> %E8%AA%9E. A
    // char-per-escape decoder turns the run into mojibake whose key
    // never matches the raw manifest path — every mutation verb then
    // silently skips the partition's files (0 matched, no error).
    val df = Seq(
      (1L, "café", 10.0), (2L, "café", 20.0),
      (3L, "日本語", 30.0), (4L, "naïve-ß", 40.0), (5L, "plain", 50.0)
    ).toDF("k", "part", "v")
    SnapshotTable.createPartitioned(spark, t, df, "part")
    val (_, m, rw) = SnapshotTable.updateWhere(spark, t, col("k") === 1L,
      Map("v" -> lit(11.0)))
    assert(m === 1L && rw === 1,
      "the café-partition file must be found and rewritten")
    val (_, del, _) =
      SnapshotTable.deleteWhere(spark, t, col("part") === "日本語")
    assert(del === 1L, "the CJK partition must be reachable")
    val src = Seq((4L, "naïve-ß", 44.0), (6L, "café", 60.0))
      .toDF("k", "part", "v")
    val (v4, upd, ins, _) = SnapshotTable.mergeInto(spark, t, src, "k")
    assert(upd === 1L && ins === 1L,
      "MERGE must reach rows in multi-byte partition dirs")
    val (v5, dv) =
      SnapshotTable.deleteWhereVector(spark, t, col("k") === 2L)
    assert(dv === 1L, "the DV path must key multi-byte dirs correctly")
    val changes = SnapshotTable.changesBetween(spark, t, v4, v5)
    assert(changes.filter(col("change_type") === "delete").count() === 1L,
      "a vector delete in a multi-byte partition dir must surface in CDC")
    val fin = SnapshotTable.read(spark, t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(fin === Set((1L, "café", 11.0), (4L, "naïve-ß", 44.0),
      (5L, "plain", 50.0), (6L, "café", 60.0)))
    // per-file stats must cover the rewritten files (computeStats keys
    // by the same decoded bridge): a value-range read that depends on
    // fresh min/max must still find the café rows
    val pruned = SnapshotTable.readWhereRange(spark, t, "v", "11.0", "11.0")
      .filter(col("v") === 11.0)
    assert(pruned.count() === 1L,
      "stats over files in multi-byte dirs must not be dropped")
    SnapshotTable.expireSnapshots(spark, t, keepLast = 1)
    assert(SnapshotTable.read(spark, t).count() === 4L,
      "expiry must not eat live files in multi-byte partition dirs")
  }

  test("format(\"graft\") provider: load/save modes, time travel, " +
      "manifest pruning, DV fallback, and the raw-write guard") {
    val t = freshTable("dsv1")
    import spark.implicits._
    val df = Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
    df.write.format("graft").mode("errorifexists").save(t)
    assert(spark.read.format("graft").load(t).count() === 3L)
    // append commits atomically through the manifest layer
    Seq((4L, "d", 4.0)).toDF("k", "s", "v")
      .write.format("graft").mode("append").save(t)
    assert(spark.read.format("graft").load(t).count() === 4L)
    assert(SnapshotTable.currentVersion(spark, t) === 2L)
    // time travel through the reader option
    assert(spark.read.format("graft").option("versionAsOf", "1")
      .load(t).count() === 3L)
    // mode semantics: ignore = no-op, errorIfExists = hard error
    Seq((9L, "z", 9.0)).toDF("k", "s", "v")
      .write.format("graft").mode("ignore").save(t)
    assert(spark.read.format("graft").load(t).count() === 4L)
    intercept[Exception] {
      Seq((9L, "z", 9.0)).toDF("k", "s", "v")
        .write.format("graft").mode("errorifexists").save(t)
    }
    // overwrite = one atomic replace; the old version stays readable
    Seq((7L, "o", 7.0)).toDF("k", "s", "v")
      .write.format("graft").mode("overwrite").save(t)
    assert(spark.read.format("graft").load(t).count() === 1L)
    assert(spark.read.format("graft").option("versionAsOf", "2")
      .load(t).count() === 4L)

    // manifest pruning reaches the provider's scan: clustered table, a
    // narrow range must PLAN fewer files than the table holds
    val tc = freshTable("dsv1prune")
    SnapshotTable.createClustered(spark, tc, orders, "o_orderkey",
      numFiles = 8)
    val scan = spark.read.format("graft").load(tc)
      .filter(col("o_orderkey").between(100, 1300))
    val idx = scan.queryExecution.optimizedPlan.collectFirst {
      case l: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        l.relation
          .asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.asInstanceOf[graft.sources.SnapshotFileIndex]
    }.get
    val expect = orders.filter(col("o_orderkey").between(100, 1300)).count()
    assert(scan.count() === expect)
    assert(idx.lastPlannedFiles >= 1 && idx.lastPlannedFiles < 8,
      s"provider scan must prune via the manifest, planned " +
        s"${idx.lastPlannedFiles} of 8")

    // DV-bearing snapshots read through the merge-on-read fallback:
    // surviving rows decode correctly (a REAL row-stream assertion,
    // not just an empty count) and vector-deleted rows never surface
    Seq((8L, "p", 8.0), (9L, "q", 9.0)).toDF("k", "s", "v")
      .write.format("graft").mode("append").save(t)
    SnapshotTable.deleteWhereVector(spark, t, col("k") === 7L)
    val dvRows = spark.read.format("graft").load(t).collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
    assert(dvRows === Set((8L, "p", 8.0), (9L, "q", 9.0)))
  }

  test("catalog-named graft tables: CREATE/SELECT on any session, " +
      "full DML by name on an extensions session") {
    val t = freshTable("cattbl")
    import spark.implicits._
    Seq((1L, "a", 1.0), (2L, "b", 2.0), (3L, "c", 3.0))
      .toDF("k", "s", "v")
      .write.format("graft").mode("errorifexists").save(t)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val name = s"graft_cat_${System.nanoTime()}"
    try {
      s2.sql(s"CREATE TABLE $name USING graft LOCATION '$t'")
      assert(s2.sql(s"SELECT * FROM $name").count() === 3L)
      // INSERT by name lowers onto the atomic append; the refreshed
      // relation makes the new snapshot visible to the next SELECT
      val ri = s2.sql(s"INSERT INTO $name VALUES (4, 'd', 4.0)").head()
      assert(ri.getString(0) === "insert" && ri.getLong(2) === 1L)
      assert(s2.sql(s"SELECT * FROM $name").count() === 4L)
      // UPDATE by name
      val ru = s2.sql(s"UPDATE $name SET v = 10.0 WHERE k = 1").head()
      assert(ru.getString(0) === "update" && ru.getLong(2) === 1L)
      assert(s2.sql(s"SELECT v FROM $name WHERE k = 1")
        .head().getDouble(0) === 10.0)
      // DELETE by name
      val rd = s2.sql(s"DELETE FROM $name WHERE k = 2").head()
      assert(rd.getLong(2) === 1L)
      // MERGE by name (upsert: update k=3, insert k=5)
      s2.createDataFrame(Seq((3L, "C", 30.0), (5L, "e", 5.0)))
        .toDF("k", "s", "v")
        .createOrReplaceTempView("graft_cat_src")
      s2.sql(s"MERGE INTO $name tg USING graft_cat_src sr " +
        "ON tg.k = sr.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
      val fin = s2.sql(s"SELECT * FROM $name").collect()
        .map(r => (r.getLong(0), r.getString(1), r.getDouble(2))).toSet
      assert(fin === Set((1L, "a", 10.0), (3L, "C", 30.0),
        (4L, "d", 4.0), (5L, "e", 5.0)))
      // alias-less MERGE: standard SQL qualifies by the relation NAMES
      // when no AS alias is given — must not require aliases
      s2.createDataFrame(Seq((6L, "g", 66.0))).toDF("k", "s", "v")
        .createOrReplaceTempView("graft_cat_src2")
      s2.sql(s"MERGE INTO $name USING graft_cat_src2 " +
        s"ON $name.k = graft_cat_src2.k " +
        "WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
      assert(s2.sql(s"SELECT * FROM $name WHERE k = 6").count() === 1L,
        "alias-less qualified MERGE must resolve by relation name")
      // the graft_dml procedure TVF accepts names too (and composes
      // with the session parser's own interception — the re-parse
      // yields the command form, which runParsed unwraps)
      s2.sql(s"""SELECT * FROM graft_dml("UPDATE $name """ +
        """SET v = 99.0 WHERE k = 5")""").collect()
      assert(s2.sql(s"SELECT v FROM $name WHERE k = 5")
        .head().getDouble(0) === 99.0)
    } finally {
      s2.sql(s"DROP TABLE IF EXISTS $name")
    }

    // a PLAIN session (no extensions): CREATE/SELECT by name work
    // through the provider alone, and INSERT must FAIL LOUDLY at the
    // read-only format guard — never drop unmanifested parquet into
    // the table root (files no manifest lists = silent data loss)
    val name2 = s"graft_cat_plain_${System.nanoTime()}"
    try {
      spark.sql(s"CREATE TABLE $name2 USING graft LOCATION '$t'")
      assert(spark.sql(s"SELECT * FROM $name2").count() === 5L)
      val ex = intercept[Exception] {
        spark.sql(s"INSERT INTO $name2 VALUES (9, 'x', 9.0)")
      }
      def rootCauseChain(e: Throwable): Seq[String] =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(_.toString).toSeq
      assert(rootCauseChain(ex).exists(_.contains("not supported")),
        s"plain-session INSERT must hit the read-only guard, got $ex")
      spark.sql(s"REFRESH TABLE $name2")
      assert(spark.sql(s"SELECT * FROM $name2").count() === 5L,
        "the failed raw insert must not have changed the table")
    } finally {
      spark.sql(s"DROP TABLE IF EXISTS $name2")
    }
  }

  test("full MERGE clause surface: conditional clauses, DELETE, " +
      "column-level SET, NOT MATCHED BY SOURCE, Delta precedence") {
    val t = freshTable("mergefull")
    import spark.implicits._
    val base = Seq(
      (1L, "a", 10.0, 1L), (2L, "b", 20.0, 1L), (3L, "c", 30.0, 2L),
      (4L, "d", 40.0, 2L), (5L, "e", 50.0, 3L)
    ).toDF("k", "s", "v", "g")
    SnapshotTable.create(spark, t, base, numFiles = 3)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    s2.createDataFrame(Seq(
      (1L, "a2", 100.0), (2L, "b2", 5.0), (3L, "c2", 300.0),
      (6L, "f", 60.0), (7L, "g", 5.0)
    )).toDF("k", "s", "v").createOrReplaceTempView("mergefull_src")
    val r = s2.sql(
      s"""MERGE INTO `$t` tg USING mergefull_src sr ON tg.k = sr.k
         |WHEN MATCHED AND sr.v > 50 THEN
         |  UPDATE SET v = sr.v, s = upper(sr.s)
         |WHEN MATCHED THEN DELETE
         |WHEN NOT MATCHED AND sr.v >= 50 THEN
         |  INSERT (k, s, v, g) VALUES (sr.k, sr.s, sr.v, 9)
         |WHEN NOT MATCHED BY SOURCE AND g = 3 THEN UPDATE SET v = 0.0
         |WHEN NOT MATCHED BY SOURCE AND k = 4 THEN DELETE
         |""".stripMargin).head()
    // k=1: matched, 100>50 -> update; k=2: matched, 5 -> DELETE (2nd
    // clause); k=3: matched, 300 -> update; k=6: not matched, 60>=50 ->
    // insert with g=9; k=7: not matched, 5 -> discarded; k=4: NMBS,
    // g=2 fails clause 1, k=4 hits clause 2 -> DELETE; k=5: NMBS,
    // g=3 -> v=0
    assert(r.getString(0) === "merge")
    assert(r.getLong(2) === 6L, // 3 updates + 2 deletes + 1 insert
      s"rows_affected: ${r.getLong(2)}")
    val fin = SnapshotTable.read(spark, t).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2),
        x.getLong(3))).toSet
    assert(fin === Set(
      (1L, "A2", 100.0, 1L), (3L, "C2", 300.0, 2L),
      (5L, "e", 0.0, 3L), (6L, "f", 60.0, 9L)))

    // precedence: clauses fire in declaration order — the conditional
    // DELETE must claim its rows BEFORE the catch-all UPDATE
    val t2 = freshTable("mergeprec")
    SnapshotTable.create(spark, t2, base, numFiles = 2)
    s2.sql(
      s"""MERGE INTO `$t2` tg USING mergefull_src sr ON tg.k = sr.k
         |WHEN MATCHED AND tg.v < 25 THEN DELETE
         |WHEN MATCHED THEN UPDATE SET v = 0.0
         |""".stripMargin).collect()
    // matched: k=1 (v=10, deleted), k=2 (v=20, deleted), k=3 (v=30,
    // updated to 0); k=4, k=5 untouched
    assert(SnapshotTable.read(spark, t2).count() === 3L,
      "the first-declared DELETE must claim v<25 rows")
    assert(SnapshotTable.read(spark, t2)
      .filter(col("v") === 0.0).count() === 1L,
      "only the non-deleted match falls through to the UPDATE")

    // multi-column ON: key requires BOTH columns to line up
    val t3 = freshTable("mergemc")
    SnapshotTable.create(spark, t3, base, numFiles = 2)
    s2.createDataFrame(Seq((1L, 1L, 111.0), (3L, 9L, 333.0)))
      .toDF("k", "g", "v").createOrReplaceTempView("mergemc_src")
    s2.sql(
      s"""MERGE INTO `$t3` tg USING mergemc_src sr
         |ON tg.k = sr.k AND tg.g = sr.g
         |WHEN MATCHED THEN UPDATE SET v = sr.v
         |WHEN NOT MATCHED THEN
         |  INSERT (k, s, v, g) VALUES (sr.k, 'n', sr.v, sr.g)
         |""".stripMargin).collect()
    val fin3 = SnapshotTable.read(spark, t3).collect()
      .map(x => (x.getLong(0), x.getString(1), x.getDouble(2),
        x.getLong(3))).toSet
    assert(fin3.contains((1L, "a", 111.0, 1L)),
      "both-column match must update")
    assert(fin3.contains((3L, "c", 30.0, 2L)) &&
      fin3.contains((3L, "n", 333.0, 9L)),
      "a half-matching key must insert, not update")

    // the Delta cardinality rule: duplicate source keys MATCHING a
    // live target row are an error (k=3 survived the precedence merge)
    s2.createDataFrame(Seq((3L, "x", 1.0), (3L, "y", 2.0)))
      .toDF("k", "s", "v").createOrReplaceTempView("mergedup_src")
    val ex = intercept[Exception] {
      s2.sql(s"""MERGE INTO `$t2` tg USING mergedup_src sr
        |ON tg.k = sr.k
        |WHEN MATCHED THEN UPDATE SET v = sr.v
        |""".stripMargin).collect()
    }
    assert(ex.getMessage.contains("multiple rows per ON key"))
  }

  test("column mapping: metadata-only RENAME/DROP/widen — zero file " +
      "rewrites, exact reads over mixed generations, name-reuse guard") {
    val t = freshTable("colmap")
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    val df = Seq(
      (1L, 10, 1.5f, "x", 100.0), (2L, 20, 2.5f, "y", 200.0),
      (3L, 30, 3.5f, null.asInstanceOf[String], 300.0)
    ).toDF("k", "i", "f", "s", "v")
    SnapshotTable.create(spark, t, df, numFiles = 2)
    def files = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).files.sorted
    val before = files
    SnapshotTable.renameColumn(spark, t, "s", "label")
    SnapshotTable.dropColumn(spark, t, "v")
    SnapshotTable.widenColumn(spark, t, "i", LongType)
    assert(files === before,
      "rename/drop/widen must be metadata-only — zero file churn")
    val evolved = SnapshotTable.read(spark, t)
    assert(evolved.columns.toSeq === Seq("k", "i", "f", "label"))
    assert(evolved.schema("i").dataType === LongType)
    val rows = evolved.collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getFloat(2),
        Option(r.getString(3)))).toSet
    assert(rows === Set((1L, 10L, 1.5f, Some("x")),
      (2L, 20L, 2.5f, Some("y")), (3L, 30L, 3.5f, None)),
      "old files must read through the mapping (incl. genuine NULLs)")
    // post-evolution writes carry the NEW names/types; reads mix
    // generations exactly
    SnapshotTable.append(spark, t,
      Seq((4L, 4000000000L, 4.5f, "z")).toDF("k", "i", "f", "label"))
    assert(SnapshotTable.read(spark, t).count() === 4L)
    assert(SnapshotTable.read(spark, t)
      .filter(col("i") === 4000000000L).count() === 1L,
      "the widened column must hold post-int-range values")
    // mutation THROUGH the mapping: the predicate and assignment bind
    // to the logical name, the rewrite lands under current names
    val (_, m, _) = SnapshotTable.updateWhere(spark, t,
      col("label") === "x", Map("label" -> lit("X")))
    assert(m === 1L, "UPDATE must reach rows in pre-rename files")
    // time travel: the old snapshot keeps its original schema
    val v1 = SnapshotTable.read(spark, t, Some(1L))
    assert(v1.columns.toSeq === Seq("k", "i", "f", "s", "v"))
    assert(v1.filter(col("s") === "x").count() === 1L)
    // name-reuse guards: a former/dropped name would resurrect stale
    // file data under by-name resolution
    intercept[IllegalArgumentException] {
      SnapshotTable.addColumns(spark, t, Seq(
        org.apache.spark.sql.types.StructField("s",
          org.apache.spark.sql.types.StringType, nullable = true)))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.renameColumn(spark, t, "f", "v")
    }
    // deletion vectors compose with the mapping
    val (_, dv) = SnapshotTable.deleteWhereVector(spark, t,
      col("label") === "y")
    assert(dv === 1L)
    assert(SnapshotTable.read(spark, t).count() === 3L)
    // the raw FileIndex scan refuses a mapped table (it would read
    // renamed columns as NULL); compact() rewrites under current names
    // and clears the mapping, after which it is exact again
    SnapshotTable.compact(spark, t)
    val (scanned, _) = graft.sources.SnapshotScan.scan(spark, t)
    assert(scanned.columns.toSeq === Seq("k", "i", "f", "label"))
    assert(scanned.count() === 3L)
    // ...and the retired names are live again after the rewrite
    SnapshotTable.addColumns(spark, t, Seq(
      org.apache.spark.sql.types.StructField("s",
        org.apache.spark.sql.types.StringType, nullable = true)))
  }

  test("multi-column partitioning: nested dirs, subset pruning on " +
      "any column, mutations keep composite labels, SQL CTAS") {
    val t = freshTable("multipart")
    import spark.implicits._
    import graft.sources.SnapshotScan
    val df = (for {
      g <- Seq("a", "b", "c"); r <- Seq("x", "y"); i <- 1 to 10
    } yield (i.toLong + (g + r).hashCode.abs % 97 * 100, g, r, i * 1.5))
      .toDF("k", "grp", "reg", "v")
    SnapshotTable.createPartitioned(spark, t, df, Seq("grp", "reg"))
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.partitionOf.size === snap.files.size,
      "every file must carry its composite label")
    assert(snap.files.forall(f =>
      f.contains("__part0=") && f.contains("__part1=")),
      "files must live in nested partition dirs")
    assert(SnapshotTable.read(spark, t).count() === df.count())
    // planned-file counts: both columns, either column alone, none
    def planned(pred: Option[org.apache.spark.sql.Column]): Int = {
      val (scan, idx) = SnapshotScan.scan(spark, t)
      val q = pred.map(scan.filter).getOrElse(scan)
      q.count()
      idx.lastPlannedFiles
    }
    val total = planned(None)
    assert(total === snap.files.size)
    val both = planned(Some(col("grp") === "a" && col("reg") === "x"))
    val first = planned(Some(col("grp") === "a"))
    val second = planned(Some(col("reg") === "y"))
    assert(both < first && first < total,
      s"both-column pruning must beat one-column ($both/$first/$total)")
    assert(second < total,
      s"a predicate on the SECOND column alone must prune " +
        s"($second/$total) — subset, not prefix-only")
    // correctness under pruning
    assert(SnapshotScan.scan(spark, t)._1
      .filter(col("grp") === "a" && col("reg") === "x").count() ===
      df.filter(col("grp") === "a" && col("reg") === "x").count())
    // mutations re-label from row values: migrate a row across both
    // partition columns
    val (_, m, _) = SnapshotTable.updateWhere(spark, t,
      col("grp") === "a" && col("reg") === "x" && col("v") === 1.5,
      Map("grp" -> lit("c"), "reg" -> lit("y"), "v" -> lit(999.0)))
    assert(m === 1L)
    val snap2 = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap2.partitionOf.size === snap2.files.size,
      "mutation must not shed composite labels")
    assert(SnapshotTable.read(spark, t)
      .filter(col("grp") === "c" && col("reg") === "y" &&
        col("v") === 999.0).count() === 1L)
    // SQL CTAS with a two-column PARTITIONED BY
    val t2 = freshTable("multipartctas")
    graft.GraftExtensions.register(spark)
    spark.sql(s"""SELECT * FROM graft_dml("CREATE TABLE `$t2` """ +
      s"""PARTITIONED BY (grp, reg) AS SELECT * FROM """ +
      s"""graft_snapshot('$t')")""").collect()
    val snap3 = SnapshotTable.readManifest(spark, t2,
      SnapshotTable.currentVersion(spark, t2))
    assert(snap3.meta.get("partitionCols").isDefined)
    assert(SnapshotTable.read(spark, t2).count() ===
      SnapshotTable.read(spark, t).count())
  }

  test("column mapping interplay: CDC spans a rename exactly, " +
      "case-only renames stay readable, bloom pruning survives, " +
      "INSERT OVERWRITE clears the mapping, readWhere on multi tables") {
    import spark.implicits._
    import graft.sources.SnapshotScan
    // --- CDC across a rename boundary: pre-images keep real values,
    // carried-through rows still cancel (no spurious pairs)
    val t = freshTable("cdcren")
    SnapshotTable.create(spark,
      t, Seq((1L, "x", 10.0), (2L, "y", 20.0), (3L, "z", 30.0))
        .toDF("k", "s", "v"), numFiles = 1) // v1
    SnapshotTable.renameColumn(spark, t, "s", "label") // v2 (meta-only)
    SnapshotTable.updateWhere(spark, t, col("k") === 2L,
      Map("v" -> lit(22.0))) // v3 rewrites the single file
    val ch = SnapshotTable.changesBetween(spark, t, 1L, 3L).collect()
      .map(r => (r.getAs[String]("change_type"), r.getLong(0),
        r.getAs[String]("label"), r.getDouble(2))).toSet
    assert(ch === Set(("delete", 2L, "y", 20.0),
      ("insert", 2L, "y", 22.0)),
      s"CDC must read pre-rename files through the lineage, got $ch")
    // the streaming CDF source spans the rename the same way
    // --- case-only rename: pure relabel, NO colmap entry, reads fine
    SnapshotTable.renameColumn(spark, t, "label", "Label")
    assert(SnapshotTable.read(spark, t).columns.toSeq ===
      Seq("k", "Label", "v"))
    assert(SnapshotTable.read(spark, t)
      .filter(col("Label") === "y").count() === 1L)
    // ...and the raw scan still works (no mapping was recorded beyond
    // the earlier real rename; compact clears that one)
    SnapshotTable.compact(spark, t)
    assert(SnapshotScan.scan(spark, t)._1.count() === 3L)
    // --- INSERT OVERWRITE (replaceContents) clears the mapping like
    // compact: fresh files under current names, fast path resumes
    val t2 = freshTable("rcclear")
    SnapshotTable.create(spark, t2,
      Seq((1L, "a")).toDF("k", "s"), numFiles = 1)
    SnapshotTable.renameColumn(spark, t2, "s", "name")
    intercept[IllegalArgumentException] { SnapshotScan.scan(spark, t2) }
    SnapshotTable.replaceContents(spark, t2,
      SnapshotTable.read(spark, t2))
    assert(SnapshotScan.scan(spark, t2)._1.columns.toSeq ===
      Seq("k", "name"))
    // --- bloom point-lookup pruning survives a rename: pre-rename
    // sidecars are keyed by the FORMER name and found via the lineage
    val tb = freshTable("bloomren")
    SnapshotTable.createBloomIndexed(spark, tb, orders,
      Seq("o_orderkey"), numFiles = 8)
    SnapshotTable.renameColumn(spark, tb, "o_orderkey", "okey")
    val key = orders.select(min(col("o_orderkey"))).head().getLong(0)
    val probe = SnapshotTable.readWherePoint(spark, tb, "okey", Set(key))
    assert(probe.count() === 1L)
    assert(probe.inputFiles.length <= 2,
      s"post-rename bloom pruning lost: opened " +
        s"${probe.inputFiles.length} of 8")
    // --- readWhere on a multi-column table: the bare-values form
    // names no column, so it must ERROR (not silently consult one
    // arbitrary column); the column->values form prunes on ANY subset
    // of the partition columns. The writer API creates
    // multi-partitioned tables via the partitionCols option.
    val tm = freshTable("rwmulti")
    Seq((1L, "a", "x"), (2L, "b", "y"), (3L, "a", "y"))
      .toDF("k", "g", "r")
      .write.format("graft").option("partitionCols", "g,r")
      .mode("errorifexists").save(tm)
    assert(SnapshotTable.readManifest(spark, tm,
      SnapshotTable.currentVersion(spark, tm))
      .meta.contains("partitionCols"))
    val bare = intercept[IllegalArgumentException] {
      SnapshotTable.readWhere(spark, tm, Set("a"))
    }
    assert(bare.getMessage.contains("Map(column -> values)"))
    val rw = SnapshotTable.readWhere(spark, tm, Map("g" -> Set("a")))
    assert(rw.collect().map(_.getLong(0)).toSet === Set(1L, 3L))
    // SECOND-column values prune correctly (the bug class the bare
    // form had: these used to return empty against the first column)
    val rw2 = SnapshotTable.readWhere(spark, tm, Map("r" -> Set("y")))
    assert(rw2.collect().map(_.getLong(0)).toSet === Set(2L, 3L))
    val rwBoth = SnapshotTable.readWhere(spark, tm,
      Map("g" -> Set("a"), "r" -> Set("y")))
    assert(rwBoth.collect().map(_.getLong(0)).toSet === Set(3L))
    assert(rwBoth.inputFiles.length === 1,
      "subset pruning must open only the matching partition's file")
    intercept[IllegalArgumentException] {
      SnapshotTable.readWhere(spark, tm, Map("nope" -> Set("a")))
    }
    // df.write.partitionBy(...) (the v1 __partition_columns option)
    // must land as the table layout, not be silently dropped
    val tp = freshTable("rwpby")
    Seq((1L, "a"), (2L, "b")).toDF("k", "g")
      .write.format("graft").partitionBy("g")
      .mode("errorifexists").save(tp)
    assert(graft.sources.SnapshotTable.readManifest(spark, tp,
      SnapshotTable.currentVersion(spark, tp))
      .meta.get("partitionCol").contains("g"),
      "partitionBy must create a partitioned table")
  }

  test("full MERGE cardinality rule fires only for MATCHED duplicate " +
      "keys; unmatched and NULL duplicates flow to the insert clauses") {
    val t = freshTable("mergecard")
    import spark.implicits._
    SnapshotTable.create(spark, t,
      Seq((1L, 1.0), (2L, 2.0)).toDF("k", "v"), numFiles = 1)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    // duplicate keys that match NO target row: both rows insert
    s2.createDataFrame(Seq((9L, 90.0), (9L, 91.0)))
      .toDF("k", "v").createOrReplaceTempView("card_src")
    val r = s2.sql(s"MERGE INTO `$t` tg USING card_src sr " +
      "ON tg.k = sr.k WHEN MATCHED THEN UPDATE SET * " +
      "WHEN NOT MATCHED THEN INSERT *").head()
    assert(r.getLong(2) === 2L, "unmatched duplicates must both insert")
    assert(SnapshotTable.read(spark, t).filter(col("k") === 9L)
      .count() === 2L)
    // duplicate keys that DO match a target row: hard error
    s2.createDataFrame(Seq((1L, 10.0), (1L, 11.0)))
      .toDF("k", "v").createOrReplaceTempView("card_dup")
    val ex = intercept[Exception] {
      s2.sql(s"MERGE INTO `$t` tg USING card_dup sr " +
        "ON tg.k = sr.k WHEN MATCHED THEN UPDATE SET * " +
        "WHEN NOT MATCHED THEN INSERT *").collect()
    }
    assert(ex.getMessage.contains("multiple rows per ON key"))
  }

  test("provider guards: writer aligns+casts by name, schema reads " +
      "never create tables, bootstrap is opt-in and partition-aware, " +
      "provider writes refresh named relations, change_type reserved") {
    import spark.implicits._
    val t = freshTable("dsguards")
    Seq((1L, "a", 1.0)).toDF("k", "s", "v")
      .write.format("graft").mode("errorifexists").save(t)
    // drifted column NAME must error, never commit a NULL-reading file
    intercept[IllegalArgumentException] {
      Seq((2L, "b", 2.0)).toDF("k", "s", "value")
        .write.format("graft").mode("append").save(t)
    }
    // missing column must error too
    intercept[IllegalArgumentException] {
      Seq((2L, "b")).toDF("k", "s")
        .write.format("graft").mode("append").save(t)
    }
    // reordered columns align by name; an int literal casts to double
    Seq(("c", 3, 3L)).toDF("s", "v", "k")
      .write.format("graft").mode("append").save(t)
    val r3 = SnapshotTable.read(spark, t).filter(col("k") === 3L).head()
    assert(r3.getAs[String]("s") === "c" && r3.getAs[Double]("v") === 3.0)
    // a schema-supplied READ of a missing path fails loudly — and
    // creates NOTHING on disk
    val missing = freshTable("dsnothere")
    intercept[Exception] {
      spark.read.format("graft").schema("k LONG, v DOUBLE")
        .load(missing).count()
    }
    val mp = new org.apache.hadoop.fs.Path(missing)
    assert(!mp.getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(mp), "a failed read must not create a table")
    // opt-in bootstrap honors the declared partitioning
    val boot = freshTable("dsboot")
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val bname = s"graft_boot_${System.nanoTime()}"
    try {
      s2.sql(s"CREATE TABLE $bname (k BIGINT, g STRING) USING graft " +
        s"OPTIONS (createIfMissing 'true', partitionCol 'g') " +
        s"LOCATION '$boot'")
      s2.sql(s"INSERT INTO $bname VALUES (1, 'x'), (2, 'y')")
      val snap = SnapshotTable.readManifest(s2, boot,
        SnapshotTable.currentVersion(s2, boot))
      assert(snap.meta.get("partitionCol").contains("g"),
        "the bootstrap must commit the declared partition layout")
      assert(snap.partitionOf.size === snap.files.size)
      assert(s2.sql(s"SELECT * FROM $bname").count() === 2L)
      // a provider-API write at the PATH must be visible to the next
      // SELECT on the NAME (cache invalidated by the writer)
      s2.createDataFrame(Seq((3L, "z"))).toDF("k", "g")
        .write.format("graft").mode("append").save(boot)
      assert(s2.sql(s"SELECT * FROM $bname").count() === 3L,
        "provider writes must refresh cached named relations")
    } finally s2.sql(s"DROP TABLE IF EXISTS $bname")
    // the change feed reserves change_type — error at definition
    val tc = freshTable("dsctcol")
    Seq((1L, "i")).toDF("k", "change_type")
      .write.format("graft").mode("errorifexists").save(tc)
    val ex = intercept[Exception] {
      spark.readStream.format("graft").option("path", tc).load()
    }
    assert(ex.getMessage.contains("change_type"))
  }

  test("SQL column evolution: ALTER TABLE RENAME/DROP/ADD COLUMN and " +
      "ALTER COLUMN TYPE through graft_dml and native statements") {
    import spark.implicits._
    val t = freshTable("sqlevol")
    SnapshotTable.create(spark, t,
      Seq((1L, 10, Option("a"), Option(1.0)),
        (2L, 20, Option("b"), Option(2.0)))
        .toDF("k", "i", "s", "v"), numFiles = 1)
    val before = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).files.sorted
    graft.GraftExtensions.register(spark)
    def dml(stmt: String) = spark.sql(
      s"""SELECT * FROM graft_dml("$stmt")""").head()
    assert(dml(s"ALTER TABLE `$t` RENAME COLUMN s TO label")
      .getString(0) === "rename_column")
    assert(dml(s"ALTER TABLE `$t` DROP COLUMN v")
      .getString(0) === "drop_column")
    assert(dml(s"ALTER TABLE `$t` ALTER COLUMN i TYPE BIGINT")
      .getString(0) === "alter_column_type")
    assert(dml(s"ALTER TABLE `$t` ADD COLUMNS (note STRING)")
      .getString(0) === "add_columns")
    val evolved = SnapshotTable.read(spark, t)
    assert(evolved.columns.toSeq === Seq("k", "i", "label", "note"))
    assert(evolved.schema("i").dataType ===
      org.apache.spark.sql.types.LongType)
    assert(evolved.filter(col("label") === "a").count() === 1L)
    assert(SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).files.sorted === before,
      "four SQL evolutions must rewrite zero files")
    // IF EXISTS tolerates a missing column; a bare drop errors
    assert(dml(s"ALTER TABLE `$t` DROP COLUMN IF EXISTS nope")
      .getLong(2) === 0L)
    intercept[Exception] { dml(s"ALTER TABLE `$t` DROP COLUMN nope") }
    // native statements on an extensions session, addressed BY NAME
    val t2 = freshTable("sqlevoln")
    Seq((1L, Option("x"))).toDF("k", "s")
      .write.format("graft").mode("errorifexists").save(t2)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val name = s"graft_evol_${System.nanoTime()}"
    try {
      s2.sql(s"CREATE TABLE $name USING graft LOCATION '$t2'")
      s2.sql(s"ALTER TABLE $name RENAME COLUMN s TO txt")
      assert(s2.sql(s"SELECT txt FROM $name").head().getString(0) === "x",
        "the refreshed named relation must carry the new schema")
    } finally s2.sql(s"DROP TABLE IF EXISTS $name")
  }

  test("multi-column ALTER is statement-atomic: a guarded later column " +
      "leaves version AND schema untouched; a clean multi-drop/widen " +
      "is ONE manifest commit") {
    import spark.implicits._
    val t = freshTable("atomalter")
    SnapshotTable.create(spark, t,
      Seq((1L, 10, Option("a"), Option(1.0), 5.0f),
        (2L, 20, Option("b"), Option(2.0), 6.0f))
        .toDF("k", "i", "s", "v", "w"), numFiles = 1)
    SnapshotTable.addConstraint(spark, t, "v_pos", "v > 0")
    graft.GraftExtensions.register(spark)
    def dml(stmt: String) = spark.sql(
      s"""SELECT * FROM graft_dml("$stmt")""").head()
    def state() = {
      val v = SnapshotTable.currentVersion(spark, t)
      (v, SnapshotTable.readManifest(spark, t, v).schema)
    }
    // FIRST column clean, SECOND constraint-referenced: the whole
    // statement must error with version AND schema untouched — the
    // half-apply class (s dropped, then the error) is the regression
    val (v0, schema0) = state()
    intercept[Exception] { dml(s"ALTER TABLE `$t` DROP COLUMNS (s, v)") }
    assert(state() === ((v0, schema0)),
      "a failed multi-drop must not half-apply")
    intercept[Exception] {
      SnapshotTable.dropColumns(spark, t, Seq("s", "v"))
    }
    assert(state() === ((v0, schema0)))
    // dropping EVERY column must error whole (pre-flighted against
    // the count AFTER all drops, not per-column)
    val tAll = freshTable("atomalterall")
    Seq((1L, "a")).toDF("k", "s")
      .write.format("graft").mode("errorifexists").save(tAll)
    intercept[Exception] {
      SnapshotTable.dropColumns(spark, tAll, Seq("k", "s"))
    }
    assert(SnapshotTable.read(spark, tAll).columns.toSeq === Seq("k", "s"))
    // a clean two-column drop commits EXACTLY ONE version
    assert(dml(s"ALTER TABLE `$t` DROP COLUMNS (s, w)")
      .getString(0) === "drop_column")
    val (v1, schema1) = state()
    assert(v1 === v0 + 1, "a multi-column drop must be ONE commit")
    assert(schema1.fieldNames.toSeq === Seq("k", "i", "v"))
    // multi-spec ALTER COLUMN touching the SAME column twice: the
    // second spec widens an already-widened type — invalid, and must
    // fail BEFORE the first spec commits
    import org.apache.spark.sql.types.LongType
    intercept[Exception] {
      SnapshotTable.widenColumns(spark, t,
        Seq("i" -> LongType, "i" -> LongType))
    }
    assert(state() === ((v1, schema1)),
      "a failed multi-widen must not half-apply")
    // a valid single-statement widen still works after the rejections
    SnapshotTable.widenColumns(spark, t, Seq("i" -> LongType))
    assert(SnapshotTable.read(spark, t).schema("i").dataType === LongType)
    // SECOND drop target is a partition column: pre-flighted, atomic
    val tp = freshTable("atomalterp")
    Seq((1L, "a", 1.0), (2L, "b", 2.0)).toDF("k", "g", "x")
      .write.format("graft").option("partitionCol", "g")
      .mode("errorifexists").save(tp)
    val vp = SnapshotTable.currentVersion(spark, tp)
    intercept[Exception] {
      SnapshotTable.dropColumns(spark, tp, Seq("x", "g"))
    }
    assert(SnapshotTable.currentVersion(spark, tp) === vp &&
      SnapshotTable.read(spark, tp).columns.toSeq === Seq("k", "g", "x"),
      "a partition-column drop must fail whole, not half-apply")
  }

  test("string stats prune in code-point order, not UTF-16 order") {
    // UTF-16 code units order U+E000 AFTER the surrogate pair for
    // U+10000; code points (= UTF8String binary, the order min/max were
    // recorded under) order it BEFORE
    assert(SnapshotTable.codePointLe("\ue000", "\ud800\udc00"))
    assert(!SnapshotTable.codePointLe("\ud800\udc00", "\ue000"))
    assert(SnapshotTable.codePointLe("ab", "ab"))
    assert(SnapshotTable.codePointLe("a", "ab"))
    assert(!SnapshotTable.codePointLe("ab", "a"))
    // functional: a range query whose bounds straddle the surrogate
    // zone must not skip the file holding the supplementary row (Java
    // String <= judged lo="￿" > max=U+10000 and excluded it)
    val t = freshTable("cporder")
    import spark.implicits._
    val df = Seq("a", "b", "\ud800\udc00").toDF("s")
    SnapshotTable.createClustered(spark, t, df, "s", numFiles = 2)
    val got = SnapshotTable.readWhereRange(spark, t, "s",
        "\uffff", "\ud800\udc01")
      .filter(col("s") >= "\uffff" && col("s") <= "\ud800\udc01")
    assert(got.count() === 1L, "the supplementary row must not be skipped")
  }

  test("mergeSchema: opt-in write-time evolution adds nullable source " +
      "columns atomically; off stays a loud error; retired names stay " +
      "rejected") {
    val t = freshTable("msch")
    SnapshotTable.create(spark, t,
      orders.select(col("o_orderkey"), col("o_orderstatus")), numFiles = 4)
    val drifted = orders.limit(10)
      .select(col("o_orderkey") + 900000000L as "o_orderkey",
        col("o_orderstatus"), col("o_totalprice").as("o_extra"))
    // OFF: a frame carrying an unknown column must error, not evolve
    val exOff = intercept[IllegalArgumentException] {
      drifted.write.format("graft").mode("append").save(t)
    }
    assert(exOff.getMessage.contains("unknown columns"))
    assert(SnapshotTable.currentVersion(spark, t) === 1L)
    // ON: one atomic commit carries schema + data
    drifted.write.format("graft").mode("append")
      .option("mergeSchema", "true").save(t)
    assert(SnapshotTable.currentVersion(spark, t) === 2L)
    val evolved = SnapshotTable.read(spark, t)
    assert(evolved.columns.toSeq ===
      Seq("o_orderkey", "o_orderstatus", "o_extra"))
    assert(evolved.schema("o_extra").nullable,
      "auto-added columns must be nullable")
    // old files read the new column as NULL; new rows carry values
    assert(evolved.filter(col("o_orderkey") < 900000000L &&
      col("o_extra").isNotNull).count() === 0L)
    assert(evolved.filter(col("o_orderkey") >= 900000000L &&
      col("o_extra").isNull).count() === 0L)
    // time travel: v1 still reads with the ORIGINAL two-column schema
    assert(SnapshotTable.read(spark, t, Some(1L)).columns.toSeq ===
      Seq("o_orderkey", "o_orderstatus"))
    // a renamed-away name must NOT come back through evolution
    SnapshotTable.renameColumn(spark, t, "o_extra", "o_extra2")
    val exRetired = intercept[IllegalArgumentException] {
      orders.limit(1)
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice").as("o_extra"))
        .write.format("graft").mode("append")
        .option("mergeSchema", "true").save(t)
    }
    assert(exRetired.getMessage.contains("renamed away or dropped"))
    // a missing NON-nullable... the writer path still requires every
    // existing column to be present (mergeSchema adds, never omits)
    val exMissing = intercept[IllegalArgumentException] {
      orders.limit(1).select(col("o_orderkey"))
        .write.format("graft").mode("append")
        .option("mergeSchema", "true").save(t)
    }
    assert(exMissing.getMessage.contains("missing table columns"))
  }

  test("mergeSchema on MERGE: the source's new column evolves the " +
      "target in the same commit as the merge; off errors") {
    val t = freshTable("mschmrg")
    SnapshotTable.create(spark, t,
      orders.select(col("o_orderkey"), col("o_orderstatus")), numFiles = 4)
    val src = orders.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey"), lit("M").as("o_flag"))
    // OFF: assigning an unknown target column is the UPDATE error
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeIntoFull(spark, t, src,
        Seq("o_orderkey" -> "o_orderkey"),
        matched = Seq(SnapshotTable.MergeWhen(None,
          Some(Map("o_flag" -> SnapshotTable.srcRef("o_flag"))))),
        notMatchedBySource = Nil, notMatched = Nil)
    }
    assert(SnapshotTable.currentVersion(spark, t) === 1L)
    // ON: evolve + merge in ONE commit
    val (v, nUpd, _, _, _) = SnapshotTable.mergeIntoFull(spark, t, src,
      Seq("o_orderkey" -> "o_orderkey"),
      matched = Seq(SnapshotTable.MergeWhen(None,
        Some(Map("o_flag" -> SnapshotTable.srcRef("o_flag"))))),
      notMatchedBySource = Nil, notMatched = Nil, mergeSchema = true)
    assert(v === 2L)
    val got = SnapshotTable.read(spark, t)
    assert(got.columns.toSeq === Seq("o_orderkey", "o_orderstatus",
      "o_flag"))
    assert(got.filter(col("o_flag") === "M").count() === nUpd)
    assert(got.filter(col("o_orderkey") % 10 === 0 &&
      col("o_flag").isNull).count() === 0L)
    assert(got.filter(col("o_orderkey") % 10 =!= 0 &&
      col("o_flag").isNotNull).count() === 0L)
  }

  test("clustered compaction: compact(clusterBy) restores range " +
      "pruning on a hash-laid-out table; maintain() re-clusters " +
      "automatically on the declared key") {
    val t = freshTable("recluster")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val lo = orders.agg(min("o_orderkey")).head().getLong(0)
    // hash layout: a narrow range scan cannot prune (no stats at all)
    assert(SnapshotTable.readWhereRange(spark, t, "o_orderkey",
      lo, lo + 10).inputFiles.length === 8)
    val (v, before, after) = SnapshotTable.compact(spark, t,
      targetMB = 128, clusterBy = Seq("o_orderkey"), numFiles = 4)
    assert(v === 2L && before === 8 && after === 4)
    val prunedScan = SnapshotTable.readWhereRange(spark, t,
      "o_orderkey", lo, lo + 10)
    assert(prunedScan.inputFiles.length === 1,
      "a narrow range over a range-clustered table reads ONE file")
    assert(prunedScan.filter(col("o_orderkey").between(lo, lo + 10))
      .count() === orders
      .filter(col("o_orderkey").between(lo, lo + 10)).count())
    // rows unchanged by the re-sort
    assert(sortedRows(SnapshotTable.read(spark, t)) === sortedRows(orders))
    // the key is now DECLARED: appends stage batch-locally sorted and
    // carry stats; maintain()'s compaction re-clusters automatically
    SnapshotTable.append(spark, t, orders.limit(500))
    SnapshotTable.append(spark, t, orders.limit(500))
    val m = SnapshotTable.maintain(spark, t, maxFiles = 4)
    assert(m.compacted, "maintain must compact past maxFiles")
    val snapM = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snapM.meta.get("clusterCols").contains("o_orderkey"),
      "the declared cluster key must survive maintenance compaction")
    // an empty clusterBy re-clusters on the DECLARED key (the
    // maintain() path at production sizes; the tiny test table rounds
    // to one size-derived file, so lay out 4 explicitly)
    SnapshotTable.compact(spark, t, numFiles = 4)
    val snapR = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snapR.files.size === 4)
    val planned = SnapshotTable.readWhereRange(spark, t, "o_orderkey",
      lo, lo + 10).inputFiles.length
    assert(planned === 1,
      s"declared-key re-clustering must restore pruning (read $planned" +
        " of 4)")
  }

  test("identity columns: generated-always assignment across append, " +
      "SQL INSERT, MERGE insert, and restore's ratcheting mark") {
    val t = freshTable("identity")
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"))
    SnapshotTable.createWithIdentity(spark, t,
      base.filter(col("o_orderkey") % 2 === 0),
      idCol = "o_id", sortCols = Seq("o_orderkey"))
    val n1 = base.filter(col("o_orderkey") % 2 === 0).count()
    val got1 = SnapshotTable.read(spark, t)
    assert(got1.columns.head === "o_id")
    assert(got1.agg(min("o_id"), max("o_id"),
      countDistinct("o_id")).head().toSeq === Seq(1L, n1, n1),
      "create assigns 1..n densely")
    // ids follow the declared sort: smallest key gets id 1
    assert(got1.orderBy(col("o_id")).head().getLong(1) ===
      got1.agg(min("o_orderkey")).head().getLong(0))
    // append continues from the mark
    SnapshotTable.append(spark, t,
      base.filter(col("o_orderkey") % 2 === 1))
    val n2 = base.filter(col("o_orderkey") % 2 === 1).count()
    val got2 = SnapshotTable.read(spark, t)
    assert(got2.agg(max("o_id"), countDistinct("o_id")).head().toSeq ===
      Seq(n1 + n2, n1 + n2))
    // GENERATED ALWAYS: explicit values are rejected loudly
    val exExplicit = intercept[IllegalArgumentException] {
      SnapshotTable.append(spark, t, SnapshotTable.read(spark, t)
        .limit(3).select(col("o_id") + 1000000L as "o_id",
          col("o_orderkey"), col("o_orderstatus")))
    }
    assert(exExplicit.getMessage.contains("GENERATED ALWAYS"))
    // ...and UPDATE may not assign the column
    val exUpd = intercept[IllegalArgumentException] {
      SnapshotTable.updateWhere(spark, t, lit(true),
        Map("o_id" -> lit(0L)))
    }
    assert(exUpd.getMessage.contains("GENERATED ALWAYS"))
    // SQL INSERT omitting the column assigns (the NULL-fill is
    // re-assigned, not stored)
    GraftExtensions.register(spark)
    spark.sql(s"""SELECT * FROM graft_dml("INSERT INTO `$t` """ +
      """(o_orderkey, o_orderstatus) VALUES (900000001, 'I')")""")
      .collect()
    val inserted = SnapshotTable.read(spark, t)
      .filter(col("o_orderkey") === 900000001L).head()
    assert(inserted.getLong(0) === n1 + n2 + 1,
      "SQL INSERT must draw the next id from the mark")
    // MERGE inserts draw ids too; updates keep the existing id
    val src = base.filter(col("o_orderkey") % 2 === 0).limit(1)
      .select(col("o_orderkey"), lit("U").as("o_orderstatus"))
      .union(spark.range(1).select(lit(900000002L).as("o_orderkey"),
        lit("N").as("o_orderstatus")))
    SnapshotTable.mergeIntoFull(spark, t, src,
      Seq("o_orderkey" -> "o_orderkey"),
      matched = Seq(SnapshotTable.MergeWhen(None, Some(Map(
        "o_orderstatus" -> SnapshotTable.srcRef("o_orderstatus"))))),
      notMatchedBySource = Nil,
      notMatched = Seq(SnapshotTable.MergeInsert(None, Map(
        "o_orderkey" -> SnapshotTable.srcRef("o_orderkey"),
        "o_orderstatus" -> SnapshotTable.srcRef("o_orderstatus")))))
    val all = SnapshotTable.read(spark, t)
    assert(all.filter(col("o_orderkey") === 900000002L).head()
      .getLong(0) === n1 + n2 + 2, "MERGE insert draws the next id")
    assert(all.filter(col("o_orderstatus") === "U").head()
      .getLong(0) <= n1, "MERGE update keeps the row's existing id")
    assert(all.agg(countDistinct("o_id")).head().getLong(0) ===
      all.count(), "ids stay globally unique")
    // MERGE may not assign the identity column
    intercept[IllegalArgumentException] {
      SnapshotTable.mergeIntoFull(spark, t, src,
        Seq("o_orderkey" -> "o_orderkey"),
        matched = Seq(SnapshotTable.MergeWhen(None,
          Some(Map("o_id" -> lit(0L))))),
        notMatchedBySource = Nil, notMatched = Nil)
    }
    // restore RATCHETS the mark: ids burned after v1 are never reused
    val hwmBefore = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).meta("identityHwm").toLong
    SnapshotTable.restore(spark, t, 1L)
    assert(SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
      .meta("identityHwm").toLong === hwmBefore)
    SnapshotTable.append(spark, t, base.limit(1))
    assert(SnapshotTable.read(spark, t).agg(max("o_id")).head()
      .getLong(0) === hwmBefore + 1,
      "an append after restore draws ABOVE every id ever issued")
  }

  test("review fixes: time travel inside DML sources, identity " +
      "declaration order, partitioned clustered compaction, writer " +
      "partitionBy vs existing layout") {
    // 1) VERSION AS OF inside an INSERT source must be lowered before
    // the DML wrap (a leaf command would hide it from the transform)
    val src = freshTable("ttsrc")
    SnapshotTable.create(spark, src, orders.limit(50), numFiles = 2)
    SnapshotTable.deleteWhere(spark, src, lit(true))
    val tgt = freshTable("ttdml")
    SnapshotTable.create(spark, tgt, orders.limit(0), numFiles = 1)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    s2.sql(s"INSERT INTO `$tgt` SELECT * FROM `$src` VERSION AS OF 1")
    assert(SnapshotTable.read(spark, tgt).count() === 50L,
      "the INSERT source must read the time-traveled (pre-delete) v1")
    // 2) an identity column declared anywhere but FIRST errors loudly
    // instead of silently reordering (positional INSERTs would shift)
    val tid = freshTable("identorder")
    val exOrder = intercept[Exception] {
      s2.sql(s"CREATE TABLE graft_identorder (k BIGINT, id BIGINT) " +
        "USING graft OPTIONS (createIfMissing 'true', " +
        s"identityCol 'id') LOCATION '$tid'")
      s2.sql("SELECT * FROM graft_identorder").collect()
    }
    assert(exOrder.getMessage.contains("FIRST"))
    s2.sql("DROP TABLE IF EXISTS graft_identorder")
    // 3) clustered compaction on a PARTITIONED table splits each
    // partition into key slices — a range predicate prunes WITHIN it
    val tp = freshTable("partclus")
    val src2 = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"))
    SnapshotTable.createPartitioned(spark, tp, src2, "o_orderstatus")
    // the range split count follows spark.sql.shuffle.partitions (the
    // production knob); the 4-partition test fixture would give ~one
    // slice per partition value, so size it like a real deployment
    // the range split count follows spark.sql.shuffle.partitions and
    // AQE coalescing (the production knobs — AQE re-merges slices to
    // ~64MB targets, which at this 1500-row fixture collapses back to
    // one slice per partition value); pin both like a real deployment
    val prevSp = spark.conf.get("spark.sql.shuffle.partitions")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.shuffle.partitions", "12")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try SnapshotTable.compact(spark, tp, clusterBy = Seq("o_orderkey"))
    finally {
      spark.conf.set("spark.sql.shuffle.partitions", prevSp)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
    val snapP = SnapshotTable.readManifest(spark, tp,
      SnapshotTable.currentVersion(spark, tp))
    val nParts = snapP.partitionOf.values.toSet.size
    assert(snapP.files.size > nParts,
      "a clustered partitioned compact must split partitions into " +
        "key slices, not one file per partition")
    val kLo = src2.agg(min("o_orderkey")).head().getLong(0)
    val planned = SnapshotTable.readWhereRange(spark, tp, "o_orderkey",
      kLo, kLo + 10).inputFiles.length
    assert(planned < snapP.files.size,
      s"range scan must prune within partitions ($planned of " +
        s"${snapP.files.size})")
    // 4) writer partitionBy on an EXISTING table: matching layout is a
    // no-op, a disagreeing one errors instead of being dropped
    src2.limit(5).write.format("graft").mode("append")
      .partitionBy("o_orderstatus").save(tp)
    val exLayout = intercept[IllegalArgumentException] {
      src2.limit(5).write.format("graft").mode("append")
        .partitionBy("o_custkey").save(tp)
    }
    assert(exLayout.getMessage.contains("disagrees"))
  }

  test("z-order compaction: a two-dimension cluster key prunes on " +
      "EITHER dimension; lexicographic would only prune the leading one") {
    val t = freshTable("zorder")
    val src = Tables.orders(spark, sf)
      .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"))
    SnapshotTable.create(spark, t, src, numFiles = 8)
    SnapshotTable.compact(spark, t,
      clusterBy = Seq("o_orderkey", "o_custkey"), numFiles = 16)
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.files.size === 16)
    val (kLo, kHi) = {
      val r = src.agg(min("o_orderkey"), max("o_orderkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    val (cLo, cHi) = {
      val r = src.agg(min("o_custkey"), max("o_custkey")).head()
      (r.getLong(0), r.getLong(1))
    }
    // a ~5% slice on EACH dimension independently must prune: z-cells
    // give every file a small hyper-rectangle
    val byKey = SnapshotTable.readWhereRange(spark, t, "o_orderkey",
      kLo, kLo + (kHi - kLo) / 20).inputFiles.length
    val byCust = SnapshotTable.readWhereRange(spark, t, "o_custkey",
      cLo, cLo + (cHi - cLo) / 20).inputFiles.length
    assert(byKey < 16, s"o_orderkey slice read $byKey of 16")
    assert(byCust < 16, s"o_custkey slice read $byCust of 16")
    // correctness: the z re-sort moved rows without changing any
    assert(SnapshotTable.read(spark, t).count() === src.count())
    assert(SnapshotTable.read(spark, t)
      .agg(sum(col("o_orderkey")), sum(col("o_custkey"))).head() ===
      src.agg(sum(col("o_orderkey")), sum(col("o_custkey"))).head())
  }

  test("graft_detail and timestamp-bounded graft_changes") {
    val t = freshTable("detail")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 5 === 0)
    GraftExtensions.register(spark)
    val d = spark.sql(s"SELECT * FROM graft_detail('$t')").head()
    assert(d.getAs[String]("format") === "graft-snapshot")
    assert(d.getAs[Long]("version") === 2L)
    assert(d.getAs[String]("identity_column") == null)
    assert(d.getAs[String]("bucket_column") == null)
    assert(d.getAs[Int]("num_constraints") === 0)
    // timestamp bounds on the change feed: pin the commit clock, then
    // ask for the changes between the two commits' times
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L
    (1L to 2L).foreach(v => fs.setTimes(
      new org.apache.hadoop.fs.Path(t, s"_manifests/v$v.manifest"),
      t0 + (v - 1) * 60000L, -1))
    val ts1 = new java.sql.Timestamp(t0).toString
    val ts2 = new java.sql.Timestamp(t0 + 60000L).toString
    val viaTs = spark.sql(s"SELECT count(*) AS n FROM graft_changes(" +
      s"'$t', TIMESTAMP '$ts1', TIMESTAMP '$ts2')").head().getLong(0)
    val viaV = spark.sql(
      s"SELECT count(*) AS n FROM graft_changes('$t', 1, 2)")
      .head().getLong(0)
    assert(viaTs === viaV && viaTs > 0L,
      "timestamp bounds must resolve to the same versions")
  }

  test("graft_optimize / graft_maintain: compaction and the " +
      "maintenance autopilot as SQL procedures") {
    val t = freshTable("sqlopt")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    GraftExtensions.register(spark)
    // OPTIMIZE with a cluster key: 8 hash files -> size-derived layout
    // re-sorted on the key, declared for later maintenance
    val r = spark.sql(s"SELECT * FROM graft_optimize('$t', 'o_orderkey')")
      .head()
    assert(r.getLong(0) === 2L && r.getInt(1) === 8)
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.meta.get("clusterCols").contains("o_orderkey"))
    assert(sortedRows(SnapshotTable.read(spark, t)) === sortedRows(orders))
    // the autopilot: under thresholds it is a no-op report
    val m = spark.sql(s"SELECT * FROM graft_maintain('$t')").head()
    assert(!m.getBoolean(0), "a freshly compacted table needs no work")
    // fragment it past maxFiles(64): maintain compacts
    (1 to 8).foreach(_ =>
      SnapshotTable.append(spark, t, orders.limit(10).repartition(9)))
    val m2 = spark.sql(s"SELECT * FROM graft_maintain('$t')").head()
    assert(m2.getBoolean(0) && m2.getInt(2) < m2.getInt(1),
      "maintain must compact a fragmented table")
  }

  test("native SQL OPTIMIZE / VACUUM: Delta statement shapes on path " +
      "and catalog-named targets, non-graft targets error") {
    val t = freshTable("sqlopt2")
    SnapshotTable.create(spark, t, orders, numFiles = 8)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    // OPTIMIZE `path` ZORDER BY (col): compaction + declared cluster
    val r = s2.sql(s"OPTIMIZE `$t` ZORDER BY (o_orderkey)").head()
    assert(r.getLong(0) === 2L && r.getInt(1) === 8)
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.meta.get("clusterCols").contains("o_orderkey"))
    assert(sortedRows(SnapshotTable.read(spark, t)) === sortedRows(orders))
    // VACUUM `path` RETAIN 0 HOURS: v1 expires, its files GC
    val vac = s2.sql(s"VACUUM `$t` RETAIN 0 HOURS").head()
    assert(vac.getInt(0) >= 1, "VACUUM must expire the pre-OPTIMIZE " +
      s"manifest, got $vac")
    intercept[Exception] {
      SnapshotTable.read(spark, t, Some(1L))
    }
    assert(sortedRows(SnapshotTable.read(spark, t)) === sortedRows(orders))
    // catalog-named target
    val name = s"graft_opt_${System.nanoTime()}"
    val t2 = freshTable("sqlopt3")
    try {
      s2.sql(s"CREATE TABLE $name USING graft LOCATION '$t2' AS " +
        s"SELECT * FROM parquet.`$sf/orders.parquet`")
      val r2 = s2.sql(s"OPTIMIZE $name").head()
      assert(r2.getLong(0) === 2L)
      assert(s2.sql(s"VACUUM $name").head().getInt(0) >= 0)
    } finally s2.sql(s"DROP TABLE IF EXISTS $name")
    // a non-graft target errors loudly instead of silently parsing
    intercept[Exception] { s2.sql("OPTIMIZE not_a_graft_table") }
    intercept[Exception] { s2.sql(s"VACUUM `/tmp/definitely/not/a/table`") }
  }

  test("partition-scoped OPTIMIZE WHERE: only the named partitions' " +
      "files rewrite, the rest carry over verbatim") {
    import spark.implicits._
    val t = freshTable("optwhere")
    SnapshotTable.createPartitioned(spark, t, orders, "o_orderstatus")
    // fragment ONE partition with 5 small appends
    (1 to 5).foreach(i => SnapshotTable.append(spark, t,
      Seq((900000000L + i, "F", i * 1.0))
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice")))
    val before = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    val untouched = before.files.filter(f =>
      before.partitionOf(f) != "F").toSet
    val fHit = before.files.count(f => before.partitionOf(f) == "F")
    assert(fHit >= 6, s"F must be fragmented, got $fHit files")
    val preContent = sortedRows(SnapshotTable.read(spark, t))
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val r = s2.sql(s"OPTIMIZE `$t` WHERE o_orderstatus = 'F'").head()
    assert(r.getInt(1) === fHit && r.getInt(2) < fHit,
      s"F's $fHit files must merge, got $r")
    val after = SnapshotTable.readManifest(spark, t, r.getLong(0))
    assert(untouched.subsetOf(after.files.toSet),
      "untouched partitions' files must carry over VERBATIM")
    assert(after.files.count(f => after.partitionOf(f) == "F") ===
      r.getInt(2))
    assert(sortedRows(SnapshotTable.read(spark, t)) === preContent)
    // the IN form, and guards: wrong column, unpartitioned, DV-bearing
    assert(s2.sql(s"OPTIMIZE `$t` WHERE o_orderstatus IN ('O', 'P')")
      .head().getInt(1) > 0)
    assert(sortedRows(SnapshotTable.read(spark, t)) === preContent)
    intercept[Exception] {
      s2.sql(s"OPTIMIZE `$t` WHERE o_orderkey = '1'")
    }
    val t2 = freshTable("optwhere2")
    SnapshotTable.create(spark, t2, orders.limit(10))
    intercept[Exception] {
      SnapshotTable.compactPartitions(spark, t2, Set("F"))
    }
    SnapshotTable.deleteWhereVector(spark, t, col("o_orderkey") === 1L)
    intercept[Exception] {
      SnapshotTable.compactPartitions(spark, t, Set("F"))
    }
  }

  test("bucketed tables: SQL OPTIONS create + writer create, every " +
      "file bucket-tagged, incompatible layout declarations rejected") {
    import spark.implicits._
    val t = freshTable("sqlbucket")
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val name = s"graft_bkt_${System.nanoTime()}"
    try {
      s2.sql(s"CREATE TABLE $name (k BIGINT, v DOUBLE) USING graft " +
        "OPTIONS (createIfMissing 'true', bucketCol 'k', bucketN '4') " +
        s"LOCATION '$t'")
      s2.sql(s"INSERT INTO $name VALUES (1, 1.0), (2, 2.0), (3, 3.0)")
      val snap = SnapshotTable.readManifest(spark, t,
        SnapshotTable.currentVersion(spark, t))
      assert(bucketsOf(snap) === Some((Seq("k"), 4)))
      assert(snap.files.nonEmpty && snap.files.forall(f =>
        f.substring(f.lastIndexOf('/') + 1)
          .matches(""".*_(\d+)(?:\..*)?$""")),
        s"every staged file must carry its bucket tag: ${snap.files}")
      assert(SnapshotTable.read(spark, t).count() === 3L)
    } finally s2.sql(s"DROP TABLE IF EXISTS $name")
    // writer-create shape
    val t2 = freshTable("wbucket")
    (1L to 100L).map(k => (k, k * 2.0)).toDF("k", "v")
      .write.format("graft").option("bucketCol", "k")
      .option("bucketN", "4").save(t2)
    assert(bucketsOf(SnapshotTable.readManifest(spark,
      t2, 1L)) === Some((Seq("k"), 4)))
    assert(SnapshotTable.read(spark, t2).count() === 100L)
    // bucket + partition COMPOSES on the writer surface (r17): labels
    // and bucket tags both present on every staged file
    val t3 = freshTable("composebucket")
    (1L to 10L).map(k => (k, if (k % 2 == 0) "e" else "o"))
      .toDF("k", "c")
      .write.format("graft").option("bucketCol", "k")
      .option("bucketN", "4").option("partitionCol", "c").save(t3)
    val snap3 = SnapshotTable.readManifest(spark, t3, 1L)
    assert(bucketsOf(snap3) === Some((Seq("k"), 4)))
    assert(snap3.partitionOf.nonEmpty &&
      snap3.partitionOf.values.toSet === Set("e", "o"))
    assert(snap3.files.forall(f => f.substring(f.lastIndexOf('/') + 1)
      .matches(""".*_(\d+)(?:\..*)?$""")),
      s"composed files carry bucket tags: ${snap3.files}")
    assert(SnapshotTable.read(spark, t3).count() === 10L)
    // identity + bucket stays rejected (ids assigned at commit)
    intercept[Exception] {
      (1L to 10L).map(k => (k, "x")).toDF("k", "c")
        .write.format("graft").option("bucketCol", "k")
        .option("bucketN", "4").option("identityCol", "id")
        .save(freshTable("badbucket"))
    }
    // partition-spec evolution on a bucketed table KEEPS the buckets
    // (the layouts compose; the rewrite relabels and re-buckets)
    SnapshotTable.repartitionTable(spark, t3, Seq("truncate(1,c)"))
    val snap4 = SnapshotTable.readManifest(spark, t3,
      SnapshotTable.currentVersion(spark, t3))
    assert(bucketsOf(snap4) === Some((Seq("k"), 4)))
    assert(snap4.partitionOf.values.toSet === Set("e", "o"))
    assert(SnapshotTable.read(spark, t3).count() === 10L)
  }

  test("native SQL RESTORE and the graft_restore TVF: metadata-only " +
      "rollback by version and by timestamp") {
    val t = freshTable("sqlrestore")
    SnapshotTable.create(spark, t, orders, numFiles = 4) // v1
    val pristine = sortedRows(SnapshotTable.read(spark, t))
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 3 === 0) // v2
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val r = s2.sql(s"RESTORE TABLE `$t` TO VERSION AS OF 1").head()
    assert(r.getLong(0) === 1L && r.getLong(1) === 3L)
    assert(sortedRows(SnapshotTable.read(spark, t)) === pristine,
      "RESTORE must roll the content back")
    // rolled-back history stays readable (restore never erases)
    assert(SnapshotTable.read(spark, t, Some(2L)).count() < orders.count())
    // timestamp form: pin the commit clock, restore to between v1/v2
    val hfs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L
    (1L to 3L).foreach(v => hfs.setTimes(
      new org.apache.hadoop.fs.Path(s"$t/_manifests/v$v.manifest"),
      t0 + (v - 1) * 60000L, -1))
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 7 === 0,
      Map("o_orderstatus" -> lit("Z"))) // v4
    val asSql = java.time.Instant.ofEpochMilli(t0 + 90000L)
      .atZone(SnapshotTable.sessionZone(spark))
      .toLocalDateTime.toString.replace('T', ' ')
    val r2 = s2.sql(s"RESTORE `$t` TO TIMESTAMP AS OF '$asSql'").head()
    assert(r2.getLong(0) === 2L, s"t0+90s resolves to v2, got $r2")
    // the TVF surface on a PLAIN session
    GraftExtensions.register(spark)
    val r3 = spark.sql(s"SELECT * FROM graft_restore('$t', 1)").head()
    assert(r3.getLong(0) === 1L)
    assert(sortedRows(SnapshotTable.read(spark, t)) === pristine)
  }

  test("partition-spec evolution: repartitionTable is one atomic " +
      "staged rewrite — new-column pruning live, old versions keep " +
      "their layout, identity and declarations survive") {
    import spark.implicits._
    val t = freshTable("respec")
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"))
    SnapshotTable.createWithIdentity(spark, t, base, idCol = "oid",
      sortCols = Seq("o_orderkey"),
      partitionCols = Seq("o_orderstatus"))
    SnapshotTable.deleteWhereVector(spark, t, col("o_orderkey") % 97 === 0)
    val preContent = sortedRows(SnapshotTable.read(spark, t))
    val n = SnapshotTable.read(spark, t).count()
    // evolve the layout: o_orderstatus -> a derived bucket column must
    // fail (not a table column), a real column succeeds
    intercept[IllegalArgumentException] {
      SnapshotTable.repartitionTable(spark, t, Seq("nope"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.repartitionTable(spark, t, Seq("oid"))
    }
    val v = SnapshotTable.repartitionTable(spark, t, Seq("o_orderkey"))
    val snap = SnapshotTable.readManifest(spark, t, v)
    assert(TableLayout.of(snap).partitionCols === Seq("o_orderkey"))
    assert(snap.partitionOf.size === snap.files.size,
      "every rewritten file carries its NEW label")
    assert(snap.deleteFiles.isEmpty, "the rewrite materializes DVs")
    // content identical (DV-applied), ids intact
    assert(sortedRows(SnapshotTable.read(spark, t)) === preContent)
    assert(SnapshotTable.read(spark, t)
      .agg(countDistinct("oid")).head().getLong(0) === n)
    // pruning on the NEW column is manifest-only
    val one = base.filter(col("o_orderkey") === 1L).count()
    if (one > 0) {
      val pruned = SnapshotTable.readWhere(spark, t, Set("1"))
      assert(pruned.inputFiles.length <
        snap.files.size, "new-layout pruning must skip files")
    }
    // the OLD version still reads with the OLD layout
    val old = SnapshotTable.readManifest(spark, t, 1L)
    assert(TableLayout.of(old).partitionCols === Seq("o_orderstatus"))
    assert(SnapshotTable.readWhere(spark, t, Set("F"), version = Some(1L))
      .filter(col("o_orderstatus") =!= "F").count() === 0L)
    // identity keeps assigning above the mark after the evolution
    SnapshotTable.append(spark, t,
      Seq((999000001L, "F")).toDF("o_orderkey", "o_orderstatus"))
    val after = SnapshotTable.read(spark, t)
    assert(after.agg(countDistinct("oid")).head().getLong(0) === n + 1)
    // de-partitioning is the Nil spec
    val v2 = SnapshotTable.repartitionTable(spark, t, Nil)
    val snap2 = SnapshotTable.readManifest(spark, t, v2)
    assert(TableLayout.of(snap2).partitionCols.isEmpty &&
      snap2.partitionOf.isEmpty)
    assert(SnapshotTable.read(spark, t).count() === n + 1)
  }

  test("identity columns: SQL-declared via OPTIONS (identityCol) on " +
      "CREATE TABLE and the CTAS/writer path") {
    val t = freshTable("sqlident")
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val name = s"graft_ident_${System.nanoTime()}"
    try {
      s2.sql(s"CREATE TABLE $name (id BIGINT, k BIGINT, s STRING) " +
        "USING graft OPTIONS (createIfMissing 'true', " +
        s"identityCol 'id', identitySort 'k') LOCATION '$t'")
      s2.sql(s"INSERT INTO $name (k, s) VALUES (30, 'a'), (10, 'b')")
      s2.sql(s"INSERT INTO $name (k, s) VALUES (20, 'c')")
      val got = SnapshotTable.read(spark, t).orderBy(col("id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq((1L, 10L), (2L, 30L), (3L, 20L)),
        "SQL inserts must draw batch-sorted ids from the mark")
      // positional INSERT supplying the identity column is rejected
      intercept[Exception] {
        s2.sql(s"INSERT INTO $name VALUES (99, 1, 'x')")
      }
    } finally s2.sql(s"DROP TABLE IF EXISTS $name")
    // writer CTAS-shape create with identity
    val t2 = freshTable("sqlident2")
    orders.limit(100).select(col("o_orderkey"), col("o_orderstatus"))
      .write.format("graft").option("identityCol", "oid")
      .option("identitySort", "o_orderkey").save(t2)
    val w = SnapshotTable.read(spark, t2)
    assert(w.columns.head === "oid")
    assert(w.agg(min("oid"), max("oid"), countDistinct("oid"))
      .head().toSeq === Seq(1L, 100L, 100L))
  }

  test("identity columns: replaceContents commits the advanced mark — " +
      "an append after a replace never reuses the replaced rows' ids") {
    val t = freshTable("identreplace")
    import spark.implicits._
    SnapshotTable.createWithIdentity(spark, t,
      (1L to 10L).map(k => (k, "a")).toDF("k", "s"), idCol = "id",
      sortCols = Seq("k"), numFiles = 1)
    SnapshotTable.replaceContents(spark, t,
      (1L to 5L).map(k => (k, "b")).toDF("k", "s"))
    val afterReplace = SnapshotTable.read(spark, t)
    assert(afterReplace.agg(min("id"), max("id")).head().toSeq ===
      Seq(11L, 15L), "replaced rows draw ids ABOVE the mark")
    assert(SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
      .meta("identityHwm").toLong === 15L,
      "the advanced mark must ride the replace commit")
    SnapshotTable.append(spark, t, Seq((99L, "c")).toDF("k", "s"))
    val all = SnapshotTable.read(spark, t)
    assert(all.agg(countDistinct("id")).head().getLong(0) === all.count())
    assert(all.filter(col("k") === 99L).head().getLong(0) === 16L,
      "the post-replace append draws id 16, never a replaced row's id")
  }

  test("identity columns: WAP staged appends and the keyed upsert " +
      "draw ids too — no write path bypasses the mark") {
    val t = freshTable("identwap")
    import spark.implicits._
    SnapshotTable.createWithIdentity(spark, t,
      Seq((10L, "a"), (20L, "b")).toDF("k", "s"), idCol = "id",
      sortCols = Seq("k"), numFiles = 1)
    // WAP: the audited candidate must carry assigned ids
    val token = SnapshotTable.stageAppend(spark, t,
      Seq((30L, "c")).toDF("k", "s"))
    val staged = SnapshotTable.readStaged(spark, t, token)
    assert(staged.filter(col("id").isNull).count() === 0L,
      "the staged candidate is the exact bytes that go live — ids " +
        "must already be assigned")
    SnapshotTable.publishStaged(spark, t, token)
    val afterWap = SnapshotTable.read(spark, t)
    assert(afterWap.orderBy(col("id")).collect().map(_.getLong(0))
      .toSeq === Seq(1L, 2L, 3L))
    // the keyed upsert: matched rows KEEP their id, inserts draw fresh
    val (_, nUpd, nIns, _) = SnapshotTable.mergeInto(spark, t,
      Seq((20L, "B"), (40L, "d")).toDF("k", "s"), "k")
    assert(nUpd === 1L && nIns === 1L)
    val rows = SnapshotTable.read(spark, t).orderBy(col("id"))
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    assert(rows.toSeq === Seq((1L, 10L, "a"), (2L, 20L, "B"),
      (3L, 30L, "c"), (4L, 40L, "d")),
      "matched keeps id 2; the insert draws id 4 from the mark")
    // a source carrying the identity column is rejected loudly
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.mergeInto(spark, t,
        Seq((99L, 50L, "e")).toDF("id", "k", "s"), "k")
    }
    assert(ex.getMessage.contains("GENERATED ALWAYS"))
  }

  test("identity columns: concurrent appenders with conflict retry " +
      "never share ids") {
    val t = freshTable("identcc")
    import spark.implicits._
    SnapshotTable.createWithIdentity(spark, t,
      Seq.empty[(Long, String)].toDF("k", "s"), idCol = "id",
      numFiles = 1)
    val perWriter = 40
    val writers = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val tasks = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val batch = spark.range(perWriter)
              .select((col("id") + w * 1000L).as("k"),
                lit(s"w$w").as("s"))
            var done = false
            var attempts = 0
            while (!done) {
              try { SnapshotTable.append(spark, t, batch); done = true }
              catch {
                case _: SnapshotTable.CommitConflictException =>
                  attempts += 1
                  require(attempts < 60, "too many conflicts")
                  Thread.sleep(20L * (attempts % 5))
              }
            }
          }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val got = SnapshotTable.read(spark, t)
    val total = writers * perWriter
    assert(got.count() === total)
    assert(got.agg(countDistinct("id")).head().getLong(0) === total,
      "retried appends must re-read the mark \u2014 no shared ids")
    assert(got.agg(min("id"), max("id")).head().toSeq ===
      Seq(1L, total.toLong), "ids are dense 1..N across all writers")
    assert(SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
      .meta("identityHwm").toLong === total)
  }

  test("identity columns on PARTITIONED tables: dense generated-always " +
      "ids, manifest partition pruning intact, concurrent appenders " +
      "never share ids") {
    import spark.implicits._
    val t = freshTable("identpart")
    val base = orders.select(col("o_orderkey"), col("o_orderstatus"))
    SnapshotTable.createWithIdentity(spark, t, base, idCol = "oid",
      sortCols = Seq("o_orderkey"),
      partitionCols = Seq("o_orderstatus"))
    val n = base.count()
    val got = SnapshotTable.read(spark, t)
    assert(got.columns.head === "oid")
    assert(got.agg(min("oid"), max("oid"), countDistinct("oid"))
      .head().toSeq === Seq(1L, n, n),
      "create assigns 1..n densely ACROSS partitions")
    // the layout is real: every file carries its label, and pruning is
    // manifest-only \u2014 excluded partitions never reach the scan
    val snap = SnapshotTable.readManifest(spark, t, 1L)
    assert(snap.partitionOf.size === snap.files.size)
    val pruned = SnapshotTable.readWhere(spark, t, Set("F"))
    assert(pruned.inputFiles.length ===
      snap.files.count(f => snap.partitionOf(f) == "F"))
    assert(pruned.count() ===
      base.filter(col("o_orderstatus") === "F").count())
    // identity + partition racing appenders: ids stay unique and dense
    val perWriter = 25
    val writers = 4
    val pool = java.util.concurrent.Executors.newFixedThreadPool(writers)
    try {
      val tasks = (0 until writers).map { w =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = {
            val batch = spark.range(perWriter)
              .select((col("id") + 1000000L + w * 1000L)
                .as("o_orderkey"),
                lit(if (w % 2 == 0) "F" else "O").as("o_orderstatus"))
            var done = false
            var attempts = 0
            while (!done) {
              try { SnapshotTable.append(spark, t, batch); done = true }
              catch {
                case _: SnapshotTable.CommitConflictException =>
                  attempts += 1
                  require(attempts < 60, "too many conflicts")
                  Thread.sleep(20L * (attempts % 5))
              }
            }
          }
        })
      }
      tasks.foreach(_.get(300, java.util.concurrent.TimeUnit.SECONDS))
    } finally pool.shutdownNow()
    val total = n + writers * perWriter
    val after = SnapshotTable.read(spark, t)
    assert(after.count() === total)
    assert(after.agg(countDistinct("oid")).head().getLong(0) === total,
      "racing partitioned appends must never share ids")
    assert(after.agg(min("oid"), max("oid")).head().toSeq ===
      Seq(1L, total), "ids stay dense 1..N across partitions and races")
    val snapAfter = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snapAfter.partitionOf.size === snapAfter.files.size,
      "appended files keep their partition labels")
    assert(snapAfter.meta("identityHwm").toLong === total)
    // the SQL surfaces accept the combination now: bootstrap + CTAS
    val tSql = freshTable("identpartsql")
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val name = s"graft_identpart_${System.nanoTime()}"
    try {
      s2.sql(s"CREATE TABLE $name (id BIGINT, k BIGINT, cat STRING) " +
        "USING graft OPTIONS (createIfMissing 'true', " +
        s"identityCol 'id', partitionCol 'cat') LOCATION '$tSql'")
      s2.sql(s"INSERT INTO $name (k, cat) " +
        "VALUES (10, 'a'), (20, 'b'), (30, 'a')")
      val sqlGot = SnapshotTable.read(spark, tSql)
      assert(sqlGot.agg(min("id"), max("id"), countDistinct("id"))
        .head().toSeq === Seq(1L, 3L, 3L))
      assert(SnapshotTable.readWhere(spark, tSql, Set("a")).count() === 2L)
    } finally s2.sql(s"DROP TABLE IF EXISTS $name")
    val tCtas = freshTable("identpartctas")
    base.write.format("graft").option("identityCol", "oid")
      .option("identitySort", "o_orderkey")
      .option("partitionCol", "o_orderstatus").save(tCtas)
    val ctasGot = SnapshotTable.read(spark, tCtas)
    assert(ctasGot.agg(countDistinct("oid")).head().getLong(0) === n)
    assert(SnapshotTable.readManifest(spark, tCtas, 1L)
      .partitionOf.nonEmpty)
  }

  test("TIMESTAMP AS OF: boundary semantics match Delta's \u2014 exact " +
      "commit time reads that commit, before-first errors, after-last " +
      "reads latest") {
    val t = freshTable("tsasof")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 10 === 0,
      Map("o_orderstatus" -> lit("T")))
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 7 === 0)
    // pin the commit clock explicitly (local-FS mtime granularity is
    // not a test dependency): v1@t0, v2@t0+60s, v3@t0+120s
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L
    (1L to 3L).foreach(v => fs.setTimes(
      new org.apache.hadoop.fs.Path(t, s"_manifests/v$v.manifest"),
      t0 + (v - 1) * 60000L, -1))
    // strictly between commits -> the earlier one
    assert(SnapshotTable.versionAtTimestamp(spark, t, t0 + 30000L) === 1L)
    // EXACTLY a commit's time -> that commit
    assert(SnapshotTable.versionAtTimestamp(spark, t, t0 + 60000L) === 2L)
    // after the last commit -> latest
    assert(SnapshotTable.versionAtTimestamp(spark, t,
      t0 + 3600000L) === 3L)
    // before the first commit -> loud error
    val ex = intercept[IllegalArgumentException] {
      SnapshotTable.versionAtTimestamp(spark, t, t0 - 1L)
    }
    assert(ex.getMessage.contains("before the earliest"))
    // the reader option pins the resolved version
    val viaOpt = spark.read.format("graft")
      .option("timestampAsOf", (t0 + 30000L).toString).load(t)
    assert(viaOpt.count() === orders.count(),
      "a pre-mutation timestamp must read the pristine v1")
    // versionAsOf and timestampAsOf together is ambiguous -> error
    intercept[IllegalArgumentException] {
      spark.read.format("graft").option("versionAsOf", "1")
        .option("timestampAsOf", (t0 + 30000L).toString).load(t)
    }
    // SQL-timestamp rendering parses too \u2014 interpreted in the SESSION
    // zone, the same contract as a typed TIMESTAMP literal
    val asSql = java.time.Instant.ofEpochMilli(t0 + 60000L)
      .atZone(SnapshotTable.sessionZone(spark))
      .toLocalDateTime.toString.replace('T', ' ')
    assert(SnapshotTable.versionAtTimestamp(spark, t,
      SnapshotTable.parseTsMillis(spark, asSql)) === 2L)
  }

  test("native SQL time travel: VERSION AS OF and TIMESTAMP AS OF on " +
      "path and catalog-named graft tables; non-graft targets pass " +
      "through") {
    val t = freshTable("sqltt")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 3 === 0)
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val t0 = 1700000000000L
    (1L to 2L).foreach(v => fs.setTimes(
      new org.apache.hadoop.fs.Path(t, s"_manifests/v$v.manifest"),
      t0 + (v - 1) * 60000L, -1))
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val full = orders.count()
    val afterDel = SnapshotTable.read(spark, t).count()
    assert(s2.sql(s"SELECT count(*) AS n FROM `$t` VERSION AS OF 1")
      .head().getLong(0) === full)
    assert(s2.sql(s"SELECT count(*) AS n FROM `$t` VERSION AS OF 2")
      .head().getLong(0) === afterDel)
    // a timestamp string literal, between the commits -> v1
    val between = new java.sql.Timestamp(t0 + 30000L).toString
    assert(s2.sql(s"SELECT count(*) AS n FROM `$t` " +
      s"TIMESTAMP AS OF '$between'").head().getLong(0) === full)
    // a typed TIMESTAMP literal resolves too, and composes with joins
    assert(s2.sql(s"SELECT count(*) AS n FROM `$t` " +
      s"TIMESTAMP AS OF TIMESTAMP '$between'").head().getLong(0) === full)
    // catalog-named target
    s2.sql(s"CREATE TABLE graft_tt_named USING graft LOCATION '$t'")
    try {
      assert(s2.sql("SELECT count(*) AS n FROM graft_tt_named " +
        "VERSION AS OF 1").head().getLong(0) === full)
      assert(s2.sql("SELECT count(*) AS n FROM graft_tt_named " +
        s"TIMESTAMP AS OF '$between'").head().getLong(0) === full)
    } finally s2.sql("DROP TABLE graft_tt_named")
    // the TVF accepts a TIMESTAMP literal second argument
    GraftExtensions.register(spark)
    assert(spark.sql(s"SELECT count(*) AS n FROM graft_snapshot('$t', " +
      s"TIMESTAMP '$between')").head().getLong(0) === full)
    // time travel over a non-graft relation is left for Spark (which
    // rejects it for plain parquet) \u2014 not silently swallowed
    intercept[Exception] {
      s2.sql(s"SELECT * FROM parquet.`$sf/orders.parquet` " +
        "VERSION AS OF 1").collect()
    }
  }

  test("context-dependent DEFAULTs are rejected on the ANALYZED tree " +
      "(the optimizer folds now() to a literal before the fold check)") {
    import org.apache.spark.sql.types.{DateType, StructField,
      TimestampType, StringType}
    import spark.implicits._
    val t = freshTable("tdefault")
    SnapshotTable.create(spark, t,
      (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v"))
    for (bad <- Seq("current_timestamp()", "now()", "localtimestamp()"))
      intercept[IllegalArgumentException] {
        SnapshotTable.addColumns(spark, t,
          Seq(StructField("ts", TimestampType, nullable = true)),
          defaults = Map("ts" -> bad))
      }
    intercept[IllegalArgumentException] {
      SnapshotTable.addColumns(spark, t,
        Seq(StructField("d", DateType, nullable = true)),
        defaults = Map("d" -> "current_date()"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.addColumns(spark, t,
        Seq(StructField("u", StringType, nullable = true)),
        defaults = Map("u" -> "uuid()"))
    }
    // SET DEFAULT guards identically
    SnapshotTable.addColumns(spark, t,
      Seq(StructField("ts2", TimestampType, nullable = true)))
    intercept[IllegalArgumentException] {
      SnapshotTable.setColumnDefault(spark, t, "ts2",
        "current_timestamp()")
    }
    // a genuinely constant expression still passes and reads stably
    SnapshotTable.addColumns(spark, t,
      Seq(StructField("since", DateType, nullable = true)),
      defaults = Map("since" -> "DATE'2020-01-01'"))
    assert(SnapshotTable.read(spark, t)
      .filter(col("since") ===
        lit(java.sql.Date.valueOf("2020-01-01"))).count() === 5L)
  }

  test("SET NOT NULL lives in the reserved graft__ constraint " +
      "namespace: user names cannot collide, DROP NOT NULL cannot " +
      "drop a user constraint") {
    import spark.implicits._
    val t = freshTable("nnns")
    SnapshotTable.create(spark, t,
      (1L to 5L).map(k => (k, s"v$k")).toDF("k", "v"))
    intercept[IllegalArgumentException] {
      SnapshotTable.addConstraint(spark, t, "graft__nn_v",
        "v IS NOT NULL")
    }
    // a user constraint named nn_v coexists with SET NOT NULL on v ...
    SnapshotTable.addConstraint(spark, t, "nn_v", "length(v) > 0")
    SnapshotTable.setNotNull(spark, t, "v")
    // ... and DROP NOT NULL lifts ONLY the engine's rule: the user's
    // nn_v still rejects empty strings afterwards
    SnapshotTable.dropNotNull(spark, t, "v")
    intercept[Exception] {
      SnapshotTable.append(spark, t, Seq((6L, "")).toDF("k", "v"))
    }
    SnapshotTable.dropConstraint(spark, t, "nn_v")
    SnapshotTable.append(spark, t, Seq((6L, "")).toDF("k", "v"))
    assert(SnapshotTable.read(spark, t).count() === 6L)
  }

  test("OPTIMIZE WHERE IN tokenizes quoted values: a partition value " +
      "containing a comma compacts instead of silently matching " +
      "nothing, malformed lists fail loudly") {
    import spark.implicits._
    val t = freshTable("optcomma")
    SnapshotTable.createPartitioned(spark, t,
      Seq((1L, "a,b", 1.0), (2L, "a,b", 2.0), (3L, "F", 3.0))
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice"),
      "o_orderstatus")
    (1 to 3).foreach(i => SnapshotTable.append(spark, t,
      Seq((10L + i, "a,b", i * 1.0))
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice")))
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val r = s2.sql(s"OPTIMIZE `$t` WHERE o_orderstatus IN ('a,b')")
      .head()
    assert(r.getInt(1) >= 4 && r.getInt(2) < r.getInt(1),
      s"the comma-valued partition must compact, got $r")
    // mixed quoted + bare, out-of-order whitespace
    assert(s2.sql(
      s"OPTIMIZE `$t` WHERE o_orderstatus IN ( F , 'a,b' )").head()
      .getInt(1) > 0)
    intercept[Exception] { // unterminated quote
      s2.sql(s"OPTIMIZE `$t` WHERE o_orderstatus IN ('a,b', 'oops)")
    }
    intercept[Exception] { // missing separator between values
      s2.sql(s"OPTIMIZE `$t` WHERE o_orderstatus IN ('a' 'b')")
    }
  }

  test("VACUUM RETAIN 0 HOURS floors the ORPHAN grace at 1h: a live " +
      "writer's staged-uncommitted batch survives history collapse " +
      "in BOTH sweeps (expiry GC and vacuumOrphans), while expired " +
      "versions' own files still GC at any age") {
    val t = freshTable("vacfloor")
    SnapshotTable.create(spark, t, orders, numFiles = 2) // v1
    SnapshotTable.compact(spark, t) // v2, full manifest: v1 droppable
    val pre = sortedRows(SnapshotTable.read(spark, t))
    // a concurrent writer mid-commit: staged, not yet in any manifest
    val live = SnapshotTable.stageBatch(orders.limit(3), t)
    val liveDir = new org.apache.hadoop.fs.Path(
      t, live.head.split('/').take(2).mkString("/"))
    val fs = liveDir.getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val vac = s2.sql(s"VACUUM `$t` RETAIN 0 HOURS").head()
    assert(vac.getInt(0) >= 1, s"history still collapses, got $vac")
    assert(vac.getInt(1) >= 1,
      s"expired v1's pre-compact files still GC at any age, got $vac")
    assert(fs.exists(liveDir) && fs.listStatus(liveDir).nonEmpty,
      "RETAIN 0 must not delete an in-grace staged batch between " +
        "its stage write and manifest CAS")
    assert(sortedRows(SnapshotTable.read(spark, t)) === pre)
  }

  test("hidden partitioning: transform specs derive labels at staging, " +
      "prune raw-column predicates through the transform, and survive " +
      "mutations, spec evolution, rename, and SQL CTAS") {
    import graft.sources.SnapshotScan
    import spark.implicits._
    def sortedRows(df: DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq.sorted
    val t = freshTable("ptrans")
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val rows = (0 until 200).map { i =>
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(i * 3600L)),
        s"u${i % 10}n$i", i * 1.5)
    }
    val df = rows.toDF("k", "ts", "who", "v")
    SnapshotTable.createPartitioned(spark, t, df,
      Seq("days(ts)", "bucket(4,k)"))
    // content round-trips; labels are (ISO day, bucket id) tuples
    assert(sortedRows(SnapshotTable.read(spark, t)) === sortedRows(df))
    val snap0 = SnapshotTable.readManifest(spark, t, 1L)
    val dayRe = """2024-03-\d{2}""".r
    assert(snap0.partitionOf.nonEmpty && snap0.partitionOf.values.forall {
      lbl =>
        val Array(day, b) = lbl.split(",", -1)
        dayRe.matches(java.net.URLDecoder.decode(day, "UTF-8")) &&
          (0 until 4).map(_.toString)
            .contains(java.net.URLDecoder.decode(b, "UTF-8"))
    }, s"labels must be (day, bucket) tuples: ${snap0.partitionOf.values.take(3)}")
    // RAW-column predicates prune THROUGH the transform
    val (sdf, idx) = SnapshotScan.scan(spark, t)
    val nFiles = snap0.files.size
    val lo = java.sql.Timestamp.from(base.plusSeconds(24 * 3600L))
    val hi = java.sql.Timestamp.from(base.plusSeconds(48 * 3600L - 1))
    val gotRange = sdf.filter(col("ts").between(lo, hi)).count()
    assert(gotRange === 24L, s"day-2 range must hold 24 rows, got $gotRange")
    assert(idx.lastPlannedFiles < nFiles &&
      idx.lastPlannedFiles <= 2 * 4,
      s"ts BETWEEN must prune to ~1 day of $nFiles files, planned " +
        s"${idx.lastPlannedFiles}")
    // bucket equality: literal-side murmur3 must agree with staging
    val gotEq = sdf.filter(col("k") === 97L).count()
    assert(gotEq === 1L, "bucket pruning must never lose the match")
    assert(idx.lastPlannedFiles < nFiles / 2,
      s"k = 97 must prune to one bucket, planned ${idx.lastPlannedFiles}")
    // mutations relabel through the spec: append a new day + update
    val extra = Seq((1000L, java.sql.Timestamp.from(
      base.plusSeconds(30L * 86400)), "u0nX", 9.0))
      .toDF("k", "ts", "who", "v")
    SnapshotTable.append(spark, t, extra)
    SnapshotTable.updateWhere(spark, t, col("k") === 7L,
      Map("v" -> lit(777.0)))
    val cur = SnapshotTable.read(spark, t)
    assert(cur.count() === 201L)
    assert(cur.filter(col("k") === 7L).head().getDouble(3) === 777.0)
    val snap2 = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap2.files.exists(f => !snap0.files.contains(f) &&
      snap2.partitionOf.get(f).exists(l =>
        java.net.URLDecoder.decode(l.split(",")(0), "UTF-8")
          .startsWith("2024-03-3"))),
      "appended rows must derive labels through the declared spec")
    val preEvolve = SnapshotTable.currentVersion(spark, t)
    val preRows = sortedRows(cur)
    // spec EVOLUTION: full relabeling rewrite; old versions time-travel
    SnapshotTable.repartitionTable(spark, t, Seq("months(ts)"))
    val snap3 = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap3.meta("partitionSpec").contains("months"))
    assert(snap3.partitionOf.values.toSet.subsetOf(
      Set("2024-03", "2024-04")),
      s"month labels, got ${snap3.partitionOf.values.toSet}")
    assert(sortedRows(SnapshotTable.read(spark, t)) === preRows)
    assert(sortedRows(SnapshotTable.read(spark, t, Some(preEvolve)))
      === preRows, "pre-evolution versions read with THEIR spec")
    // rename of the transform source rewrites the spec
    SnapshotTable.renameColumn(spark, t, "ts", "event_ts")
    val snap4 = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(TableLayout.of(snap4).partitions
      .map(_.spec) === Seq("months(event_ts)"))
    // the raw scan refuses column-mapped snapshots (honesty rule) —
    // compact materializes the rename AND relabels through the spec
    SnapshotTable.compact(spark, t)
    val (sdf2, idx2) = SnapshotScan.scan(spark, t)
    val aprCount = sdf2.filter(col("event_ts") >= java.sql.Timestamp
      .from(java.time.Instant.parse("2024-04-01T00:00:00Z"))).count()
    assert(aprCount === 0L)
    assert(idx2.lastPlannedFiles === 0,
      "an April predicate must prune every March file through months()")
    // SQL CTAS with transforms, through the graft_dml surface
    val t2 = freshTable("ptrans_sql")
    df.createOrReplaceTempView("graft_ptrans_src")
    GraftExtensions.register(spark)
    spark.sql(s"""SELECT * FROM graft_dml("CREATE TABLE `$t2` """ +
      """PARTITIONED BY (days(ts), bucket(4, k)) AS """ +
      """SELECT * FROM graft_ptrans_src")""").collect()
    val snapSql = SnapshotTable.readManifest(spark, t2, 1L)
    assert(TableLayout.of(snapSql).partitions
      .map(_.spec) === Seq("days(ts)", "bucket(4,k)"))
    assert(sortedRows(SnapshotTable.read(spark, t2)) === sortedRows(df))
    // DESCRIBE DETAIL surfaces the spec text
    assert(SnapshotTable.detail(spark, t2).head()
      .getAs[String]("partition_columns") === "days(ts),bucket(4,k)")
  }

  test("partition transform unit semantics: hours/months/years, " +
      "truncate over strings and integers, null sources, and the " +
      "monotonic range-pruning contract") {
    import graft.sources.SnapshotScan
    import spark.implicits._
    // truncate over strings (prefix) and integers (floor multiple)
    val ts1 = freshTable("ptrunc")
    val sdf = (0 until 100).map(i =>
      (i.toLong, f"key${i % 7}%02dtail$i", (i % 50) * 10L))
      .toDF("k", "s", "n")
    SnapshotTable.createPartitioned(spark, ts1,
      sdf, Seq("truncate(5,s)", "truncate(100,n)"))
    val snap = SnapshotTable.readManifest(spark, ts1, 1L)
    val labels = snap.partitionOf.values.map(_.split(",", -1)
      .map(x => java.net.URLDecoder.decode(x, "UTF-8")).toSeq).toSet
    assert(labels.forall { case Seq(a, b) =>
      a.matches("key\\d\\d") && b.toLong % 100 == 0 })
    val (df1, idx1) = SnapshotScan.scan(spark, ts1)
    assert(df1.filter(col("s") === "key03tail3").count() === 1L)
    assert(idx1.lastPlannedFiles < snap.files.size,
      "string-truncate equality must prune")
    val nBig = df1.filter(col("n") >= 400L).count()
    assert(nBig === sdf.filter(col("n") >= 400L).count())
    assert(idx1.lastPlannedFiles < snap.files.size,
      "integer-truncate range must prune (monotonic floor)")
    // hours + years, and a NULL timestamp lands in the default
    // partition without breaking value-predicate pruning
    val th = freshTable("phours")
    val b = java.time.Instant.parse("2023-06-15T00:00:00Z")
    val hdf = ((0 until 48).map(i => (i.toLong, java.sql.Timestamp
      .from(b.plusSeconds(i * 900L)))) :+
      (99L, null.asInstanceOf[java.sql.Timestamp]))
      .toDF("k", "ts")
    SnapshotTable.createPartitioned(spark, th,
      hdf, Seq("hours(ts)", "years(ts)"))
    val hsnap = SnapshotTable.readManifest(spark, th, 1L)
    val hlabels = hsnap.partitionOf.values.map(_.split(",", -1)(0))
      .map(x => java.net.URLDecoder.decode(x, "UTF-8")).toSet
    assert(hlabels.exists(_.matches("2023-06-15-\\d{2}")) &&
      hlabels.exists(_ == "__HIVE_DEFAULT_PARTITION__"),
      s"hour labels + null partition, got $hlabels")
    val (hdf2, hidx) = SnapshotScan.scan(spark, th)
    val in1h = hdf2.filter(col("ts") < java.sql.Timestamp.from(
      b.plusSeconds(3600L))).count()
    assert(in1h === 4L)
    assert(hidx.lastPlannedFiles < hsnap.files.size,
      "hour range must prune (and exclude the null partition)")
    assert(hdf2.filter(col("ts").isNull).count() === 1L,
      "the null row survives in the default partition")
    // months over DATE sources
    val tm = freshTable("pmonths")
    val mdf = (0 until 90).map(i => (i.toLong, java.sql.Date.valueOf(
      java.time.LocalDate.of(2022, 1, 1).plusDays(i * 3L))))
      .toDF("k", "d")
    SnapshotTable.createPartitioned(spark, tm, mdf, Seq("months(d)"))
    val msnap = SnapshotTable.readManifest(spark, tm, 1L)
    assert(msnap.partitionOf.values.toSet.forall(_.matches(
      "2022-\\d{2}")), s"got ${msnap.partitionOf.values.toSet}")
    val (mdf2, midx) = SnapshotScan.scan(spark, tm)
    assert(mdf2.filter(col("d") === java.sql.Date.valueOf("2022-03-02"))
      .count() === 1L)
    assert(midx.lastPlannedFiles === 1,
      "a date equality must prune to exactly its month")
    // identity composes with hidden partitioning: ids assigned
    // globally first, then the assigned rows stage through the spec
    val ti = freshTable("pident")
    SnapshotTable.createWithIdentity(spark, ti, mdf, idCol = "id",
      partitionCols = Seq("months(d)"))
    val isnap = SnapshotTable.readManifest(spark, ti, 1L)
    assert(isnap.meta("partitionSpec").contains("months"))
    assert(SnapshotTable.read(spark, ti).select("id").collect()
      .map(_.getLong(0)).sorted.toSeq === (1L to 90L),
      "dense gap-free ids across transform partitions")
    // malformed specs and wrong source types fail loudly
    intercept[IllegalArgumentException] {
      SnapshotTable.createPartitioned(spark, freshTable("pbad"),
        sdf, Seq("days(s)"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.createPartitioned(spark, freshTable("pbad2"),
        sdf, Seq("frobnicate(k)"))
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.createPartitioned(spark, freshTable("pbad3"),
        sdf, Seq("bucket(0,k)"))
    }
  }

  test("procedure TVFs are EXPLAIN-safe: EXPLAIN plans the call " +
      "without running the verb; plain SELECT still executes it") {
    import spark.implicits._
    val t = freshTable("explainsafe")
    SnapshotTable.create(spark, t,
      (1L to 20L).map(k => (k, s"v$k")).toDF("k", "v"), numFiles = 4)
    GraftExtensions.register(spark)
    val v0 = SnapshotTable.currentVersion(spark, t)
    // EXPLAIN over every side-effecting procedure: version unchanged
    SnapshotTable.createBranch(spark, t, "exb")
    for (call <- Seq(
      s"SELECT * FROM graft_optimize('$t')",
      s"SELECT * FROM graft_maintain('$t')",
      s"SELECT * FROM graft_restore('$t', 1)",
      s"""SELECT * FROM graft_dml("DELETE FROM `$t` WHERE k = 1")""",
      s"""SELECT * FROM graft_branch_dml('$t', 'exb', """ +
        s""""DELETE FROM `$t` WHERE k = 1")""")) {
      val planText = spark.sql(s"EXPLAIN EXTENDED $call")
        .head().getString(0)
      assert(planText.contains("GraftProcedureCommand"),
        s"EXPLAIN must show the deferred procedure, got:\n$planText")
      assert(SnapshotTable.currentVersion(spark, t) === v0,
        s"EXPLAIN $call must not run the verb")
    }
    assert(SnapshotTable.read(spark, t).count() === 20L)
    assert(SnapshotTable.branches(spark, t) === Seq(("exb", 1L, 0)),
      "EXPLAIN graft_branch_dml must not advance the branch head")
    SnapshotTable.dropBranch(spark, t, "exb")
    // plain invocation still executes and returns its report row
    val r = spark.sql(s"SELECT * FROM graft_optimize('$t')").head()
    assert(r.getLong(0) === v0 + 1 && r.getInt(1) === 4)
    val d = spark.sql(
      s"""SELECT * FROM graft_dml("DELETE FROM `$t` WHERE k = 1")""")
      .head()
    assert(d.getString(0) === "delete" && d.getLong(2) === 1L)
    assert(SnapshotTable.read(spark, t).count() === 19L)
    // restore executes too (and resolves its version at run time)
    val rr = spark.sql(s"SELECT * FROM graft_restore('$t', ${v0 + 1})")
      .head()
    assert(rr.getLong(0) === v0 + 1)
    assert(SnapshotTable.read(spark, t).count() === 20L)
  }

  test("branches and tags: branch reads are isolated from main, " +
      "publish is a metadata-only fast-forward that fails loudly on " +
      "divergence, and both GC paths respect live refs") {
    import spark.implicits._
    val t = freshTable("refs")
    SnapshotTable.create(spark, t,
      (1L to 10L).map(k => (k, s"v$k")).toDF("k", "v"), numFiles = 2)
    SnapshotTable.append(spark, t,
      (11L to 15L).map(k => (k, s"v$k")).toDF("k", "v")) // v2
    val mainRows = SnapshotTable.read(spark, t).count()
    // branch: two commits, fully isolated from main
    SnapshotTable.createBranch(spark, t, "exp")
    SnapshotTable.appendToBranch(spark, t, "exp",
      Seq((100L, "b1")).toDF("k", "v"))
    SnapshotTable.appendToBranch(spark, t, "exp",
      Seq((101L, "b2")).toDF("k", "v"))
    assert(SnapshotTable.readBranch(spark, t, "exp").count()
      === mainRows + 2)
    assert(SnapshotTable.read(spark, t).count() === mainRows,
      "branch commits must be invisible on main")
    assert(SnapshotTable.currentVersion(spark, t) === 2L)
    assert(SnapshotTable.branches(spark, t) === Seq(("exp", 2L, 2)))
    // GC with a live branch: expiry + vacuum keep the branch's batches
    SnapshotTable.expireSnapshots(spark, t, keepLast = 1)
    assert(SnapshotTable.vacuumOrphans(spark, t, graceMs = 0L) === 0,
      "a live branch's staged batches are not orphans")
    assert(SnapshotTable.readBranch(spark, t, "exp").count()
      === mainRows + 2)
    // divergence: a main commit after the fork fails the fast-forward
    SnapshotTable.append(spark, t, Seq((200L, "m")).toDF("k", "v")) // v3
    intercept[IllegalStateException] {
      SnapshotTable.publishBranch(spark, t, "exp")
    }
    SnapshotTable.dropBranch(spark, t, "exp")
    assert(SnapshotTable.branches(spark, t).isEmpty)
    // re-branch from the new base; publish is METADATA-ONLY: the
    // branch batches' files exist before publish and the published
    // manifest lists exactly them
    SnapshotTable.createBranch(spark, t, "exp2")
    SnapshotTable.appendToBranch(spark, t, "exp2",
      Seq((300L, "p")).toDF("k", "v"))
    val preFiles = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t)).files.toSet
    val hfs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val v = SnapshotTable.publishBranch(spark, t, "exp2")
    val pub = SnapshotTable.readManifest(spark, t, v)
    assert(pub.files.toSet.size === preFiles.size + 1)
    assert(pub.files.forall(f =>
      hfs.exists(new org.apache.hadoop.fs.Path(t, f))))
    assert(SnapshotTable.read(spark, t)
      .filter(col("k") === 300L).count() === 1L)
    assert(SnapshotTable.branches(spark, t).isEmpty,
      "publish consumes the branch")
    // TAGS pin history through expiry
    val tagged = SnapshotTable.currentVersion(spark, t)
    SnapshotTable.tagVersion(spark, t, "release", tagged)
    // provider read options: a tag resolves to its pinned version, a
    // branch reads its head isolated from main, combinations reject
    SnapshotTable.createBranch(spark, t, "viaopt")
    SnapshotTable.appendToBranch(spark, t, "viaopt",
      Seq((500L, "bb")).toDF("k", "v"))
    assert(spark.read.format("graft").option("branch", "viaopt")
      .load(t).filter(col("k") === 500L).count() === 1L)
    assert(spark.read.format("graft").option("branch", "viaopt")
      .load(t).count() === SnapshotTable.read(spark, t).count() + 1)
    assert(spark.read.format("graft").option("tag", "release")
      .load(t).count() ===
      SnapshotTable.read(spark, t, Some(tagged)).count())
    intercept[Exception] {
      spark.read.format("graft").option("tag", "release")
        .option("branch", "viaopt").load(t).count()
    }
    SnapshotTable.dropBranch(spark, t, "viaopt")
    SnapshotTable.append(spark, t, Seq((400L, "x")).toDF("k", "v"))
    SnapshotTable.append(spark, t, Seq((401L, "y")).toDF("k", "v"))
    SnapshotTable.expireSnapshots(spark, t, keepLast = 1)
    assert(SnapshotTable.readTag(spark, t, "release")
      .filter(col("k") === 300L).count() === 1L,
      "a tagged version must survive expiry")
    assert(SnapshotTable.tags(spark, t) === Map("release" -> tagged))
    intercept[IllegalArgumentException] { // immutable
      SnapshotTable.tagVersion(spark, t, "release", tagged)
    }
    // dropping the tag releases the pin: the next expiry collapses it
    SnapshotTable.dropTag(spark, t, "release")
    SnapshotTable.expireSnapshots(spark, t, keepLast = 1)
    intercept[Exception] {
      SnapshotTable.read(spark, t, Some(tagged)).count()
    }
  }

  test("ref + files SQL surface: graft_files/graft_refs/graft_branch " +
      "relations, EXPLAIN-safe ref procedures") {
    import spark.implicits._
    val t = freshTable("refsql")
    SnapshotTable.createClustered(spark, t,
      (1L to 40L).map(k => (k, s"v$k")).toDF("k", "v"),
      "k", numFiles = 4)
    GraftExtensions.register(spark)
    // files metadata relation: one row per live file, bytes + rows +
    // labels, metadata-tier
    val files = spark.sql(s"SELECT * FROM graft_files('$t')").collect()
    assert(files.length === 4)
    assert(files.forall(r => r.getLong(1) > 0L && r.getLong(2) === 10L),
      s"bytes and recorded row counts per file, got ${files.toSeq}")
    // procedures: create branch, commit to it via the Scala verb,
    // inspect refs, publish — EXPLAIN runs nothing
    spark.sql(s"SELECT * FROM graft_create_branch('$t', 'exp')").collect()
    SnapshotTable.appendToBranch(spark, t, "exp",
      Seq((100L, "b")).toDF("k", "v"))
    spark.sql(s"SELECT * FROM graft_create_tag('$t', 'rel', 1)").collect()
    val refs = spark.sql(s"SELECT * FROM graft_refs('$t')")
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    assert(refs.toSet === Set(("branch", "exp", 1L), ("tag", "rel", 1L)))
    assert(spark.sql(s"SELECT * FROM graft_branch('$t', 'exp')")
      .count() === 41L)
    val v0 = SnapshotTable.currentVersion(spark, t)
    val ex = spark.sql(
      s"EXPLAIN SELECT * FROM graft_publish_branch('$t', 'exp')")
      .head().getString(0)
    assert(ex.contains("GraftProcedureCommand") &&
      SnapshotTable.currentVersion(spark, t) === v0 &&
      SnapshotTable.branches(spark, t).nonEmpty,
      "EXPLAIN must not publish")
    val pub = spark.sql(
      s"SELECT * FROM graft_publish_branch('$t', 'exp')").head()
    assert(pub.getString(0) === "exp" && pub.getLong(1) === v0 + 1)
    assert(SnapshotTable.read(spark, t).count() === 41L)
    spark.sql(s"SELECT * FROM graft_drop_tag('$t', 'rel')").collect()
    assert(spark.sql(s"SELECT * FROM graft_refs('$t')").count() === 0L)
  }

  test("bucket layout survives repartitionTable to ONE identity " +
      "column, and rebucketTable upgrades legacy partitionCol meta — " +
      "staged files stay bucket-tagged under the declared BucketSpec") {
    val t = freshTable("bucket_repart1")
    SnapshotTable.createBucketed(spark, t, orders, "o_orderkey", 4)
    val preRows = sortedRows(SnapshotTable.read(spark, t))
    // evolve to a SINGLE identity partition column: the table is
    // bucketed, so the meta must come out as `partitionCols` (the
    // composed staging branch keys on it) — the legacy bare key would
    // stage partition files with NO bucket tags under a manifest that
    // still declares a BucketSpec
    SnapshotTable.repartitionTable(spark, t, Seq("o_orderstatus"))
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.meta.contains("partitionCols") &&
      !snap.meta.contains("partitionCol"),
      s"bucketed tables must carry partitionCols even for one " +
        s"identity column, got ${snap.meta.keys}")
    assert(snap.meta("bucketN") === "4")
    assert(snap.files.forall(_.matches(""".*_\d{5}(\.[A-Za-z0-9]+)*\.parquet""")),
      s"every staged file must carry its bucket tag: " +
        s"${snap.files.filterNot(_.matches(""".*_\d{5}(\.[A-Za-z0-9]+)*\.parquet""")).take(3)}")
    assert(sortedRows(SnapshotTable.read(spark, t)) === preRows)
    // appends after the evolution stay composed (labels AND tags)
    SnapshotTable.append(spark, t, orders.limit(5))
    val snap2 = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap2.files.forall(_.matches(""".*_\d{5}(\.[A-Za-z0-9]+)*\.parquet""")))
    assert(SnapshotTable.read(spark, t).count() === preRows.size + 5L)

    // legacy single-partitionCol table gaining buckets: rebucketTable
    // must upgrade the meta key so the same composed branch fires
    val t2 = freshTable("bucket_legacy_up")
    SnapshotTable.createPartitioned(spark, t2, orders, "o_orderstatus")
    val pre2 = sortedRows(SnapshotTable.read(spark, t2))
    SnapshotTable.rebucketTable(spark, t2, 4, Seq("o_orderkey"))
    val snap3 = SnapshotTable.readManifest(spark, t2,
      SnapshotTable.currentVersion(spark, t2))
    assert(snap3.meta.contains("partitionCols") &&
      !snap3.meta.contains("partitionCol"),
      s"rebucketTable must upgrade partitionCol meta, got " +
        s"${snap3.meta.keys}")
    assert(snap3.files.forall(_.matches(""".*_\d{5}(\.[A-Za-z0-9]+)*\.parquet""")))
    assert(sortedRows(SnapshotTable.read(spark, t2)) === pre2)
    // partition pruning still holds under the upgraded (enc'd) labels
    val want = orders.filter(col("o_orderstatus") === "F").count()
    assert(SnapshotTable.readWhere(spark, t2,
      Map("o_orderstatus" -> Set("F"))).count() === want)
  }

  test("TIMESTAMP identity-partition equality must not silently " +
      "exclude files: the label is cast-to-string, the literal " +
      "renders as epoch micros — no cross-domain partition verdict; " +
      "stats (min==max per identity partition) still prune") {
    import spark.implicits._
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val df = (0 until 6).map(i => (i.toLong,
      java.sql.Timestamp.from(base.plusSeconds(i / 2 * 86400L))))
      .toDF("k", "ts")
    val t = freshTable("ts_ident_part")
    SnapshotTable.createPartitioned(spark, t, df, "ts")
    val nFiles = SnapshotTable.readManifest(spark, t, 1L).files.size
    assert(nFiles === 3, s"one file per day expected, got $nFiles")
    val (sdf, idx) = graft.sources.SnapshotScan.scan(spark, t)
    val day2 = java.sql.Timestamp.from(base.plusSeconds(86400L))
    val got = sdf.filter(col("ts") === day2).count()
    assert(got === 2L,
      s"equality on a timestamp identity partition lost rows: $got")
    assert(idx.lastPlannedFiles === 1,
      s"the label-domain partition verdict must prune to the one " +
        s"matching day, planned ${idx.lastPlannedFiles} of $nFiles")
    // the plain table read agrees (no pruning layer involved)
    assert(SnapshotTable.read(spark, t)
      .filter(col("ts") === day2).count() === 2L)
  }

  test("dropColumns guards bucket and bucket-sort columns like " +
      "partition columns — and the multi-drop pre-flight never " +
      "half-applies") {
    val t = freshTable("drop_bucket_guard")
    SnapshotTable.createBucketed(spark, t, orders, Seq("o_orderkey"), 4,
      Seq("o_totalprice"), Nil)
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, t, "o_orderkey")
    }
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumn(spark, t, "o_totalprice")
    }
    val v = SnapshotTable.currentVersion(spark, t)
    intercept[IllegalArgumentException] {
      SnapshotTable.dropColumns(spark, t,
        Seq("o_orderstatus", "o_orderkey"))
    }
    assert(SnapshotTable.currentVersion(spark, t) === v,
      "a failed multi-drop must leave the version untouched")
    // the scan still plans (the BucketSpec names live columns)
    assert(SnapshotTable.read(spark, t).count() === orders.count())
  }

  test("withBranch: FULL DML on a branch — append/update/delete/DV fix " +
      "rows on the branch through the ordinary verbs, main stays " +
      "isolated until publish; composes with identity + constraints") {
    val t = freshTable("branch_dml")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    val odds = orders.filter(col("o_orderkey") % 2 === 1)
    SnapshotTable.createWithIdentity(spark, t, evens, idCol = "o_id",
      sortCols = Seq("o_orderkey"))
    SnapshotTable.addConstraint(spark, t, "positive_price",
      "o_totalprice >= 0")
    val mainRows = sortedRows(SnapshotTable.read(spark, t))
    SnapshotTable.createBranch(spark, t, "fix")
    SnapshotTable.withBranch(spark, t, "fix") {
      // the ordinary verbs, redirected: identity keeps assigning,
      // constraints keep enforcing, every commit lands on the branch
      SnapshotTable.append(spark, t, odds)
      SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 100 === 0,
        Map("o_orderstatus" -> lit("Z")))
      SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 17 === 3)
      SnapshotTable.deleteWhereVector(spark, t,
        col("o_orderkey") % 19 === 5)
      intercept[SnapshotTable.ConstraintViolationException] {
        import spark.implicits._
        SnapshotTable.append(spark, t,
          Seq((-1L, "F", -5.0)).toDF("o_orderkey", "o_orderstatus",
            "o_totalprice"))
      }
      // publishing (or dropping) the scoped branch inside its own
      // scope is refused — the redirect would corrupt the main commit
      intercept[IllegalArgumentException] {
        SnapshotTable.publishBranch(spark, t, "fix")
      }
      intercept[IllegalArgumentException] {
        SnapshotTable.dropBranch(spark, t, "fix")
      }
    }
    // main saw NOTHING
    assert(sortedRows(SnapshotTable.read(spark, t)) === mainRows)
    // the branch head reads the fixed multiset (DVs applied)
    val expect = evens.unionByName(odds)
      .filter(col("o_orderkey") % 17 =!= 3)
      .filter(col("o_orderkey") % 19 =!= 5)
    val br = SnapshotTable.readBranch(spark, t, "fix")
    assert(br.count() === expect.count())
    assert(br.filter(col("o_orderstatus") === "Z").count() ===
      expect.filter(col("o_orderkey") % 100 === 0).count())
    // publish: the corrected rows land on main, identity ids stay
    // unique across the branch's appends
    SnapshotTable.publishBranch(spark, t, "fix")
    val pub = SnapshotTable.read(spark, t)
    assert(pub.count() === expect.count())
    assert(pub.select(col("o_id")).distinct().count() === expect.count(),
      "identity ids assigned on the branch must stay unique")
    assert(pub.filter(col("o_orderstatus") === "Z").count() ===
      expect.filter(col("o_orderkey") % 100 === 0).count())
    assert(pub.filter(col("o_orderkey") % 17 === 3).count() === 0L)
  }

  test("cherry-pick publish: an append-only branch re-applies onto a " +
      "MOVED main as a fresh commit; rewrite-bearing, DV-bearing and " +
      "identity-colliding branches fail loudly") {
    val t = freshTable("cherry")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    SnapshotTable.create(spark, t, evens, numFiles = 4) // v1
    SnapshotTable.createBranch(spark, t, "cp")
    SnapshotTable.appendToBranch(spark, t, "cp",
      orders.filter(col("o_orderkey") % 4 === 1))
    // main MOVES after the fork
    SnapshotTable.append(spark, t,
      orders.filter(col("o_orderkey") % 4 === 3)) // v2
    // plain publish: loud fast-forward conflict
    intercept[IllegalStateException] {
      SnapshotTable.publishBranch(spark, t, "cp")
    }
    // cherry-pick: the branch's appends land ON the moved main
    SnapshotTable.publishBranch(spark, t, "cp", cherryPick = true)
    assert(SnapshotTable.read(spark, t).count() === orders.count())
    assert(sortedRows(SnapshotTable.read(spark, t)) === sortedRows(orders))
    assert(SnapshotTable.branches(spark, t).isEmpty,
      "publish consumes the branch")
    // SQL surface drives the same path
    graft.GraftExtensions.register(spark)
    SnapshotTable.createBranch(spark, t, "cp2")
    SnapshotTable.appendToBranch(spark, t, "cp2",
      orders.limit(3).select(
        (col("o_orderkey") + 90000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
    SnapshotTable.append(spark, t, orders.limit(1).select(
      (col("o_orderkey") + 91000000L).as("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))) // main moves again
    spark.sql(s"SELECT * FROM graft_publish_branch('$t', 'cp2', true)")
      .collect()
    assert(SnapshotTable.read(spark, t).count() === orders.count() + 4)
    // a REWRITE-bearing branch (deleteWhere rewrote files) refuses
    SnapshotTable.createBranch(spark, t, "rw")
    SnapshotTable.withBranch(spark, t, "rw") {
      SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 17 === 3)
    }
    SnapshotTable.append(spark, t, orders.limit(1).select(
      (col("o_orderkey") + 92000000L).as("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice")))
    val e1 = intercept[IllegalStateException] {
      SnapshotTable.publishBranch(spark, t, "rw", cherryPick = true)
    }
    assert(e1.getMessage.contains("not append-only"))
    // a DV-bearing branch refuses too
    SnapshotTable.createBranch(spark, t, "dv")
    SnapshotTable.withBranch(spark, t, "dv") {
      SnapshotTable.deleteWhereVector(spark, t,
        col("o_orderkey") % 19 === 5)
    }
    SnapshotTable.append(spark, t, orders.limit(1).select(
      (col("o_orderkey") + 93000000L).as("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice"))) // diverge main
    val e2 = intercept[IllegalStateException] {
      SnapshotTable.publishBranch(spark, t, "dv", cherryPick = true)
    }
    assert(e2.getMessage.contains("not append-only"))
    // identity assigned on BOTH sides after the fork: ids collide
    val t2 = freshTable("cherry_id")
    SnapshotTable.createWithIdentity(spark, t2,
      orders.filter(col("o_orderkey") % 2 === 0), idCol = "o_id")
    SnapshotTable.createBranch(spark, t2, "cpid")
    SnapshotTable.appendToBranch(spark, t2, "cpid",
      orders.filter(col("o_orderkey") % 4 === 1))
    SnapshotTable.append(spark, t2,
      orders.filter(col("o_orderkey") % 4 === 3))
    val e3 = intercept[IllegalStateException] {
      SnapshotTable.publishBranch(spark, t2, "cpid", cherryPick = true)
    }
    assert(e3.getMessage.contains("identity"))
  }

  test("transform-aware OPTIMIZE WHERE: a raw ts >= predicate on a " +
      "days(ts) x bucket(k) table rewrites only the straddling days, " +
      "and a bucket-column equality scopes to exactly one bucket") {
    import spark.implicits._
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    def mk(off: Int) = (0 until 40).map { i =>
      val d = i % 10
      (i.toLong * 100 + off,
        java.sql.Timestamp.from(base.plusSeconds(d * 86400L)))
    }.toDF("k", "ts")
    val t = freshTable("opt_days")
    GraftExtensions.register(spark)
    mk(0).createOrReplaceTempView("graft_optdays_src")
    spark.sql(s"""SELECT * FROM graft_dml("CREATE TABLE `$t` """ +
      """PARTITIONED BY (days(ts), bucket(4, k)) AS """ +
      """SELECT * FROM graft_optdays_src")""").collect()
    SnapshotTable.append(spark, t, mk(1)) // fragment every partition
    SnapshotTable.append(spark, t, mk(2))
    val before = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    def dayOf(label: String): String =
      java.net.URLDecoder.decode(label.split(",")(0), "UTF-8")
    def bucketOf(label: String): String =
      java.net.URLDecoder.decode(label.split(",")(1), "UTF-8")
    val preContent = sortedRows(SnapshotTable.read(spark, t)
      .select(col("k").as("o_orderkey")))
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    // ts >= day 8 (2024-03-09): exactly days 8 and 9 rewrite — the
    // RAW predicate maps through days(ts); nobody hand-renders labels
    val lateFiles = before.files.filter(f =>
      dayOf(before.partitionOf(f)) >= "2024-03-09").toSet
    val earlyFiles = before.files.toSet -- lateFiles
    assert(lateFiles.size >= 6, s"late days must be fragmented")
    val r1 = s2.sql(s"OPTIMIZE `$t` WHERE ts >= " +
      "TIMESTAMP'2024-03-09 00:00:00'").head()
    assert(r1.getInt(1) === lateFiles.size,
      s"exactly the straddling days' ${lateFiles.size} files must " +
        s"rewrite, got $r1")
    val after1 = SnapshotTable.readManifest(spark, t, r1.getLong(0))
    assert(earlyFiles.subsetOf(after1.files.toSet),
      "files of days before the cut must carry over VERBATIM")
    assert(after1.files.toSet.intersect(lateFiles).isEmpty)
    assert(sortedRows(SnapshotTable.read(spark, t)
      .select(col("k").as("o_orderkey"))) === preContent)
    // bucket equality on the RAW key: exactly ONE bucket's files (all
    // days) rewrite
    val r2 = s2.sql(s"OPTIMIZE `$t` WHERE k = 500").head()
    val after2 = SnapshotTable.readManifest(spark, t, r2.getLong(0))
    val rewritten = after1.files.toSet -- after2.files.toSet
    assert(rewritten.nonEmpty &&
      rewritten.map(f => bucketOf(after1.partitionOf(f))).size === 1,
      s"a key equality must scope to one bucket, rewrote " +
        s"${rewritten.map(f => after1.partitionOf(f))}")
    assert(r2.getInt(1) < after1.files.size,
      "one bucket must be a strict subset of the table")
    assert(sortedRows(SnapshotTable.read(spark, t)
      .select(col("k").as("o_orderkey"))) === preContent)
    // months(ts) equality through a date literal on a separate table
    val t2 = freshTable("opt_months")
    mk(0).createOrReplaceTempView("graft_optmonths_src")
    spark.sql(s"""SELECT * FROM graft_dml("CREATE TABLE `$t2` """ +
      """PARTITIONED BY (months(ts)) AS """ +
      """SELECT * FROM graft_optmonths_src")""").collect()
    SnapshotTable.append(spark, t2, mk(1))
    val r3 = s2.sql(s"OPTIMIZE `$t2` WHERE ts < DATE'2024-03-05'")
      .head()
    assert(r3.getInt(1) > 0,
      "the straddling month must be selected by a < range " +
        s"(no-verdict superset is fine), got $r3")
  }

  test("graft_partitions rollup: per-partition files/bytes/rows from " +
      "the manifest, version-pinned, null-honest row sums") {
    import spark.implicits._
    val t = freshTable("partroll")
    SnapshotTable.createPartitioned(spark, t, orders, "o_orderstatus")
    SnapshotTable.append(spark, t,
      Seq((900000001L, "F", 1.0))
        .toDF("o_orderkey", "o_orderstatus", "o_totalprice"))
    GraftExtensions.register(spark)
    val roll = spark.sql(s"SELECT * FROM graft_partitions('$t')")
      .collect()
      .map(r => r.getString(0) ->
        ((r.getLong(1), Option(r.getAs[java.lang.Long]("rows")))))
      .toMap
    val want = orders.groupBy(col("o_orderstatus")).count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(roll.keySet === want.keySet)
    roll.foreach { case (status, (files, rows)) =>
      assert(rows.isEmpty,
        s"no statsCols declared -> no recorded per-file counts -> the " +
          s"rollup must be null-honest, got $rows for $status")
      assert(files === (if (status == "F") 2L else 1L),
        s"$status file count, got $files")
    }
    // version pinning: v1 is one file per partition
    val v1 = spark.sql(s"SELECT * FROM graft_partitions('$t', 1)")
      .collect()
    assert(v1.length === want.size && v1.forall(_.getLong(1) === 1L))
    // bytes are the batched-listing sizes, all positive
    assert(spark.sql(s"SELECT min(size_bytes) FROM graft_partitions" +
      s"('$t')").head().getLong(0) > 0L)
    // a stats-tracking table DOES roll up recorded rows (single null
    // partition for an unpartitioned table)
    val t2 = freshTable("partroll_stats")
    SnapshotTable.createClustered(spark, t2, orders, "o_orderkey")
    val r2 = spark.sql(s"SELECT * FROM graft_partitions('$t2')")
      .collect()
    assert(r2.length === 1 && r2.head.isNullAt(0))
    assert(Option(r2.head.getAs[java.lang.Long]("rows"))
      .map(_.longValue).contains(orders.count()))
  }

  test("writer branch option: df.write.option(branch) appends and " +
      "overwrites ON the branch — main isolated until publish; " +
      "invalid modes and missing branches fail loudly") {
    import spark.implicits._
    val t = freshTable("wbranch")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    SnapshotTable.create(spark, t, evens, numFiles = 4)
    SnapshotTable.createBranch(spark, t, "wb")
    // append to the branch through the writer
    orders.filter(col("o_orderkey") % 4 === 1)
      .write.format("graft").mode("append")
      .option("branch", "wb").save(t)
    assert(SnapshotTable.read(spark, t).count() === evens.count(),
      "main must not see the branch write")
    val brCount = evens.count() +
      orders.filter(col("o_orderkey") % 4 === 1).count()
    assert(spark.read.format("graft").option("branch", "wb")
      .load(t).count() === brCount)
    // overwrite ON the branch replaces the branch contents only
    orders.limit(7).write.format("graft").mode("overwrite")
      .option("branch", "wb").save(t)
    assert(spark.read.format("graft").option("branch", "wb")
      .load(t).count() === 7L)
    assert(SnapshotTable.read(spark, t).count() === evens.count())
    SnapshotTable.publishBranch(spark, t, "wb")
    assert(SnapshotTable.read(spark, t).count() === 7L)
    // guards: unknown branch, invalid mode
    intercept[Exception] {
      orders.limit(1).write.format("graft").mode("append")
        .option("branch", "nope").save(t)
    }
    SnapshotTable.createBranch(spark, t, "wb2")
    intercept[Exception] {
      orders.limit(1).write.format("graft").mode("ignore")
        .option("branch", "wb2").save(t)
    }
  }

  test("publish replay is idempotent: a crash between the main commit " +
      "and dropBranch followed by a retried publish commits nothing " +
      "and never duplicates rows (fast-forward AND cherry-pick paths)") {
    val t = freshTable("pub_replay")
    val evens = orders.filter(col("o_orderkey") % 2 === 0)
    SnapshotTable.create(spark, t, evens, numFiles = 4) // v1
    val fs = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def branchManifests(name: String): Seq[org.apache.hadoop.fs.Path] =
      fs.listStatus(new org.apache.hadoop.fs.Path(t, "_manifests"))
        .map(_.getPath)
        .filter(_.getName.startsWith(s"staged-branch-$name-"))
        .toIndexedSeq
    def snapshotAside(name: String): Seq[(String, Array[Byte])] =
      branchManifests(name).map { p =>
        val in = fs.open(p)
        try (p.getName, in.readAllBytes()) finally in.close()
      }
    def restore(saved: Seq[(String, Array[Byte])]): Unit =
      saved.foreach { case (n, bytes) =>
        val out = fs.create(
          new org.apache.hadoop.fs.Path(t, s"_manifests/$n"), true)
        try out.write(bytes) finally out.close()
      }
    // --- cherry-pick replay ---
    SnapshotTable.createBranch(spark, t, "cpr")
    SnapshotTable.appendToBranch(spark, t, "cpr",
      orders.filter(col("o_orderkey") % 4 === 1))
    SnapshotTable.append(spark, t,
      orders.filter(col("o_orderkey") % 4 === 3)) // main diverges: v2
    val savedCp = snapshotAside("cpr")
    val v3 = SnapshotTable.publishBranch(spark, t, "cpr",
      cherryPick = true)
    val rowsAfter = sortedRows(SnapshotTable.read(spark, t))
    restore(savedCp) // simulate the crash window: branch still alive
    val vRetry = SnapshotTable.publishBranch(spark, t, "cpr",
      cherryPick = true)
    assert(vRetry === v3, "a pure replay must not commit a new version")
    assert(SnapshotTable.currentVersion(spark, t) === v3)
    assert(sortedRows(SnapshotTable.read(spark, t)) === rowsAfter,
      "a replayed cherry-pick publish must not duplicate rows")
    assert(SnapshotTable.branches(spark, t).isEmpty)
    // --- fast-forward replay ---
    SnapshotTable.createBranch(spark, t, "ffr")
    SnapshotTable.appendToBranch(spark, t, "ffr", orders.limit(5).select(
      (col("o_orderkey") + 95000000L).as("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice")))
    val savedFf = snapshotAside("ffr")
    val v4 = SnapshotTable.publishBranch(spark, t, "ffr")
    val rowsFf = sortedRows(SnapshotTable.read(spark, t))
    restore(savedFf)
    // the retry cannot fast-forward (main moved past the stale base) —
    // the replay detector must short-circuit before any conflict check
    val vFfRetry = SnapshotTable.publishBranch(spark, t, "ffr",
      cherryPick = true)
    assert(vFfRetry === v4)
    assert(SnapshotTable.currentVersion(spark, t) === v4)
    assert(sortedRows(SnapshotTable.read(spark, t)) === rowsFf)
  }

  test("cherry-pick publish merges the branch's monotone consumer " +
      "marks (streaming batch ids), so a micro-batch replay after the " +
      "publish is still skipped") {
    val t = freshTable("cherry_marks")
    SnapshotTable.create(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0), numFiles = 2)
    SnapshotTable.createBranch(spark, t, "mk")
    // two micro-batches land on the branch through the exactly-once path
    SnapshotTable.withBranch(spark, t, "mk") {
      assert(SnapshotTable.commitStreamBatch(spark, t,
        orders.filter(col("o_orderkey") % 4 === 1).limit(5), 0L, "q1"))
      assert(SnapshotTable.commitStreamBatch(spark, t,
        orders.filter(col("o_orderkey") % 4 === 1)
          .filter(col("o_orderkey") > 100).limit(5), 1L, "q1"))
    }
    SnapshotTable.append(spark, t,
      orders.limit(1).select(
        (col("o_orderkey") + 96000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice"))) // diverge main
    SnapshotTable.publishBranch(spark, t, "mk", cherryPick = true)
    val cur = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(cur.meta.get("lastBatchId.q1").contains("1"),
      "the branch's batch-id mark must ride the cherry-pick merge")
    val before = SnapshotTable.read(spark, t).count()
    // a replay of batch 1 on the published main must be skipped
    assert(!SnapshotTable.commitStreamBatch(spark, t,
      orders.limit(5), 1L, "q1"),
      "replayed batch id must be skipped after a cherry-pick publish")
    assert(SnapshotTable.read(spark, t).count() === before)
  }

  test("publishBranch(retainBranch = true) keeps the ref alive, " +
      "re-seeded at the published version — continuous WAP publishes " +
      "without out-of-band branch re-creation") {
    val t = freshTable("pub_retain")
    SnapshotTable.create(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0), numFiles = 2) // v1
    SnapshotTable.createBranch(spark, t, "wap")
    SnapshotTable.withBranch(spark, t, "wap") {
      assert(SnapshotTable.commitStreamBatch(spark, t,
        orders.filter(col("o_orderkey") % 4 === 1).limit(4), 0L, "s"))
    }
    val v = SnapshotTable.publishBranch(spark, t, "wap",
      cherryPick = false, retainBranch = true)
    assert(SnapshotTable.currentVersion(spark, t) === v)
    val refs = SnapshotTable.branches(spark, t)
    assert(refs.map(r => (r._1, r._2)) === Seq(("wap", v)),
      "the branch must survive its publish, re-forked at the " +
        "published version")
    // the re-seeded head carries the published snapshot INCLUDING the
    // batch-id mark — the streaming sink's next micro-batch keeps its
    // exactly-once protocol without interruption
    val headCount = SnapshotTable.readBranch(spark, t, "wap").count()
    assert(headCount === SnapshotTable.read(spark, t).count())
    SnapshotTable.withBranch(spark, t, "wap") {
      assert(!SnapshotTable.commitStreamBatch(spark, t,
        orders.limit(3), 0L, "s"), "replayed batch id skips on the " +
          "re-seeded branch (mark preserved across publish)")
      assert(SnapshotTable.commitStreamBatch(spark, t,
        orders.filter(col("o_orderkey") % 4 === 3).limit(4), 1L, "s"))
    }
    // and the NEXT publish fast-forwards cleanly from the new base —
    // via the 4-arg SQL procedure form (cherry_pick, retain)
    GraftExtensions.register(spark)
    val v2 = spark.sql(s"SELECT * FROM graft_publish_branch('$t', " +
      "'wap', false, true)").head().getLong(1)
    assert(v2 === v + 1)
    assert(SnapshotTable.branches(spark, t)
      .map(r => (r._1, r._2)) === Seq(("wap", v2)))
  }

  test("branch scope keys on the NORMALIZED path: a verb or statement " +
      "naming the scoped table with a different spelling redirects to " +
      "the branch, and graft_branch_dml refuses a foreign target") {
    val t = freshTable("branch_norm")
    SnapshotTable.create(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0), numFiles = 2)
    SnapshotTable.createBranch(spark, t, "nb")
    val mainBefore = SnapshotTable.read(spark, t).count()
    // trailing-slash spelling inside the scope still hits the branch
    SnapshotTable.withBranch(spark, t, "nb") {
      SnapshotTable.append(spark, t + "/", orders.limit(3).select(
        (col("o_orderkey") + 97000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
    }
    assert(SnapshotTable.read(spark, t).count() === mainBefore,
      "a differently-spelled path must NOT leak the commit to main")
    assert(SnapshotTable.readBranch(spark, t, "nb").count() ===
      mainBefore + 3)
    // graft_branch_dml: statement with a trailing-slash spelling works…
    GraftExtensions.register(spark)
    spark.sql(s"SELECT * FROM graft_branch_dml('$t', 'nb', " +
      s""""DELETE FROM `$t/` WHERE o_orderkey >= 97000000")""").collect()
    assert(SnapshotTable.readBranch(spark, t, "nb").count() ===
      mainBefore)
    assert(SnapshotTable.read(spark, t).count() === mainBefore)
    // …but a statement naming ANOTHER table is refused loudly instead
    // of silently committing to that table's main
    val t2 = freshTable("branch_norm_other")
    SnapshotTable.create(spark, t2, orders.limit(10), numFiles = 1)
    val other = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_branch_dml('$t', 'nb', " +
        s""""DELETE FROM `$t2` WHERE o_orderkey > 0")""").collect()
    }
    assert(other.getMessage.contains("targets"),
      s"foreign-target branch DML must refuse, got: ${other.getMessage}")
    assert(SnapshotTable.read(spark, t2).count() === 10L,
      "the foreign table must be untouched")
    // …and a non-DML statement has no resolvable mutation target
    val ddl = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_branch_dml('$t', 'nb', " +
        s""""DROP TABLE `$t`")""").collect()
    }
    assert(ddl.getMessage.contains("INSERT/UPDATE/DELETE/MERGE"))
  }

  test("identity-TIMESTAMP partition labels pin their staging " +
      "timezone: writes from a drifted session zone fail loudly, and " +
      "reads render pruning literals in the PINNED zone") {
    import spark.implicits._
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val df = (0 until 30).map { i =>
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(
        (i % 3) * 86400L)))
    }.toDF("k", "ts")
    val t = freshTable("staging_tz")
    SnapshotTable.createPartitioned(spark, t, df, Seq("ts"))
    val snap = SnapshotTable.readManifest(spark, t, 1L)
    assert(snap.meta.get("stagingTz").contains("UTC"),
      "the first commit of a timestamp-identity layout must pin the " +
        "session zone")
    val tzKey = "spark.sql.session.timeZone"
    try {
      spark.conf.set(tzKey, "America/New_York")
      // writes from the drifted zone refuse (labels would mix domains)
      val e = intercept[IllegalArgumentException] {
        SnapshotTable.append(spark, t, df.limit(3))
      }
      assert(e.getMessage.contains("staging timezone"))
      // reads from the drifted zone still prune correctly: the raw
      // value parses in the SESSION zone (the user's local-time
      // intent: NY 19:00 on Mar 1 IS the UTC-midnight instant the
      // partition was labeled from) and the literal renders in the
      // PINNED zone, so the matching partition is found — the old
      // session-zone rendering produced "2024-03-01 19:00:00", a
      // label that exists in no domain, excluding every file
      val hits = SnapshotTable.partitionLabelsWhere(spark, t, "ts",
        "=", Seq("2024-03-01 19:00:00"))
      assert(hits === Set("2024-03-02 00:00:00"),
        s"drifted-zone read must render in the pinned zone, got $hits")
      // Catalyst scan path: equality on the partition timestamp plans
      // only that partition's files (literal arrives as an instant —
      // 2024-03-02 00:00 UTC written as NY local time)
      val (sdf, idx) = graft.sources.SnapshotScan.scan(spark, t)
      val n = sdf.filter(col("ts") ===
        org.apache.spark.sql.functions.to_timestamp(
          lit("2024-03-01 19:00:00"))).count()
      assert(n === 10L)
      assert(idx.lastPlannedFiles > 0 &&
        idx.lastPlannedFiles < snap.files.size,
        "identity-equality pruning must hold under a drifted session " +
          s"zone (planned ${idx.lastPlannedFiles} of " +
          s"${snap.files.size})")
    } finally spark.conf.set(tzKey, "UTC")
    // an unpartitioned (or non-timestamp) table pins nothing
    val t2 = freshTable("staging_tz_none")
    SnapshotTable.create(spark, t2, orders.limit(5), numFiles = 1)
    assert(!SnapshotTable.readManifest(spark, t2, 1L).meta
      .contains("stagingTz"))
  }

  test("a pre-existing timestamp-partitioned table WITHOUT a pin is " +
      "never retroactively pinned: its labels' true derivation zone " +
      "is unknowable, so later commits must not adopt the session zone") {
    import spark.implicits._
    val base = java.time.Instant.parse("2024-03-01T00:00:00Z")
    val df = (0 until 12).map { i =>
      (i.toLong, java.sql.Timestamp.from(base.plusSeconds(
        (i % 3) * 86400L)))
    }.toDF("k", "ts")
    val t = freshTable("staging_tz_legacy")
    SnapshotTable.createPartitioned(spark, t, df, Seq("ts"))
    val v1 = SnapshotTable.readManifest(spark, t, 1L)
    assert(v1.meta.contains("stagingTz"))
    // simulate a legacy (pre-pin) table: a v2 commit whose meta drops
    // the pin — each manifest is wholly authoritative for meta
    SnapshotTable.commitManifest(spark, t,
      v1.copy(meta = v1.meta - "stagingTz"), 1L, Some(v1))
    val v2 = SnapshotTable.readManifest(spark, t, 2L)
    assert(!v2.meta.contains("stagingTz"),
      "an unchanged layout must not re-pin (retroactive adoption " +
        "would codify whatever zone this commit happens to run under)")
    // a later ordinary commit keeps it unpinned too
    SnapshotTable.append(spark, t, df.limit(3))
    assert(!SnapshotTable.readManifest(spark, t, 3L).meta
      .contains("stagingTz"))
    // reads keep the pre-pin session-zone behavior and lose no row
    assert(SnapshotTable.read(spark, t).count() === 15L)
  }

  test("session-WAP resolution is MEMOIZED: repeated reads under SET " +
      "graft.branch probe the filesystem once per (table, branch), " +
      "and the ref verbs invalidate the cache") {
    val t = freshTable("wap_memo")
    SnapshotTable.create(spark, t, orders.limit(20), numFiles = 1)
    try {
      spark.conf.set("graft.branch", "memo")
      SnapshotTable.read(spark, t).count() // first read: one probe
      val before = SnapshotTable.wapProbeCount.get()
      (1 to 5).foreach(_ => SnapshotTable.read(spark, t).count())
      val probes = SnapshotTable.wapProbeCount.get() - before
      assert(probes === 0L,
        s"resolution must hit the cache on a branch-free table, " +
          s"probed $probes more times")
      // create invalidates the negative verdict: reads now redirect
      SnapshotTable.createBranch(spark, t, "memo")
      SnapshotTable.appendToBranch(spark, t, "memo", orders.limit(5))
      assert(SnapshotTable.read(spark, t).count() === 25L,
        "after createBranch the session conf must redirect to the branch")
      // drop invalidates back to main
      SnapshotTable.dropBranch(spark, t, "memo")
      assert(SnapshotTable.read(spark, t).count() === 20L,
        "after dropBranch reads must land on main again")
    } finally spark.conf.unset("graft.branch")
  }

  private def manifestText(t: String, name: String): Vector[String] = {
    val p = new org.apache.hadoop.fs.Path(t, s"_manifests/$name")
    val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val in = f.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines().toVector
    finally in.close()
  }

  test("two-tier manifests: planning metadata reads are ∝ matched " +
      "partitions — a pruned scan over a 1000-file table reads ONE " +
      "group's metadata, lists no directories, and stays exact") {
    import graft.sources.SnapshotScan
    val t = freshTable("two_tier")
    def batch(rows: Int, tag: Int): DataFrame =
      spark.range(rows).select(
        (col("id") + tag * 100000L).as("k"),
        (col("id") % 100).cast("string").as("part"))
    SnapshotTable.createPartitioned(spark, t, batch(1000, 0), "part")
    (1 to 9).foreach(i => SnapshotTable.append(spark, t, batch(1000, i)))
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.files.size === 1000,
      s"expected 1000 files, got ${snap.files.size}")
    // the anchor is GROUPED: grp: lines, zero inline file entries
    val anchorLines = manifestText(t, "v1.manifest")
    assert(anchorLines.count(_.startsWith("grp:")) === 100,
      "the anchor must carry one group line per partition label")
    assert(!anchorLines.exists(_.startsWith("data/")),
      "a grouped anchor must carry no inline file entries")
    // total group metadata on disk, for the proportionality assertion
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val groupsDir = new org.apache.hadoop.fs.Path(t, "_manifests/groups")
    val totalGroupBytes = fsys.listStatus(groupsDir)
      .filter(_.getPath.getName.endsWith(".grp")).map(_.getLen).sum
    assert(totalGroupBytes > 0L)
    // pruned scan: ONE group read, bytes ∝ 1/100 of the metadata,
    // ZERO filesystem listing (sizes are manifest-stamped), 10 files
    val (df, idx) = SnapshotScan.scan(spark, t)
    val got = df.filter(col("part") === "42").count()
    assert(got === 100L, s"10 commits x 10 rows of part=42, got $got")
    assert(idx.lastMetaGroupsRead === 1,
      s"one matched partition must read ONE group, read " +
        s"${idx.lastMetaGroupsRead}")
    assert(idx.lastMetaBytesRead > 0 &&
      idx.lastMetaBytesRead <= totalGroupBytes / 50,
      s"pruned planning read ${idx.lastMetaBytesRead} of " +
        s"$totalGroupBytes group-metadata bytes — not ∝ matched " +
        "partitions")
    assert(idx.lastListedDirs === 0,
      "stamped file sizes must plan with ZERO filesystem listing, " +
        s"listed ${idx.lastListedDirs} dirs")
    assert(idx.lastPlannedFiles === 10,
      s"part=42 lives in 10 files (one per commit), planned " +
        s"${idx.lastPlannedFiles}")
    // the relation's size statistic needs no group materialization and
    // equals the true on-disk total (synthetic FileStatus correctness)
    val realBytes = snap.files.map(rel => fsys.getFileStatus(
      new org.apache.hadoop.fs.Path(t, rel)).getLen).sum
    assert(idx.sizeInBytes === realBytes,
      s"sizeInBytes ${idx.sizeInBytes} != on-disk $realBytes")
    // unfiltered scan stays exact
    assert(df.count() === 10000L)
    // a RANGE predicate over the partition column prunes groups too
    // (identity labels: equality only at group level — range falls to
    // per-file stats, still sound)
    assert(df.filter(col("part").isin("7", "8")).count() === 200L)
    assert(idx.lastMetaGroupsRead === 2,
      s"IN(2 labels) must read two groups, read " +
        s"${idx.lastMetaGroupsRead}")
    // time travel mid-chain resolves (anchor + delta prefix)
    val (dfv, idxv) = SnapshotScan.scan(spark, t, Some(3L))
    assert(dfv.filter(col("part") === "42").count() === 30L)
    assert(idxv.lastMetaGroupsRead === 1)
    // a table BELOW the grouping threshold stays single-file
    val ts = freshTable("two_tier_small")
    SnapshotTable.createPartitioned(spark, ts,
      batch(1000, 0).filter(col("part").isin("1", "2", "3")), "part")
    assert(!manifestText(ts, "v1.manifest").exists(_.startsWith("grp:")),
      "a 3-file table must not pay the two-tier indirection")
  }

  test("two-tier re-anchor reuses untouched partition groups: after " +
      "MaxChainDepth single-partition appends the fresh anchor " +
      "re-writes ONE group and reuses the other 99 verbatim") {
    import graft.sources.SnapshotScan
    val t = freshTable("two_tier_reanchor")
    val base = spark.range(1000).select(
      col("id").as("k"), (col("id") % 100).cast("string").as("part"))
    SnapshotTable.createPartitioned(spark, t, base, "part") // v1 anchor
    val v1Groups = manifestText(t, "v1.manifest")
      .filter(_.startsWith("grp:"))
      .map(_.split('\t')).map(a => a(1) -> a(0)).toMap
    // 17 appends touching ONLY part=0: v2..v17 are deltas, v18 (depth
    // 17 > MaxChainDepth) re-anchors as a fresh GROUPED full manifest
    (1 to 17).foreach { i =>
      SnapshotTable.append(spark, t, spark.range(5).select(
        (col("id") + i * 1000000L).as("k"), lit("0").as("part")))
    }
    val vCur = SnapshotTable.currentVersion(spark, t)
    assert(vCur === 18L)
    val v18Lines = manifestText(t, s"v$vCur.manifest")
    assert(!v18Lines.exists(_.startsWith("base:")),
      "v18 must re-anchor (chain depth exceeded)")
    val v18Groups = v18Lines.filter(_.startsWith("grp:"))
      .map(_.split('\t')).map(a => a(1) -> a(0)).toMap
    assert(v18Groups.size === 100)
    val label0 = "v" + java.net.URLEncoder.encode("0", "UTF-8")
    assert(v18Groups(label0) !== v1Groups(label0),
      "the churned partition's group must be re-rendered")
    val reused = v18Groups.filter { case (l, g) =>
      l != label0 && v1Groups.get(l).contains(g) }
    assert(reused.size === 99,
      s"the 99 untouched partitions must reuse their group files " +
        s"verbatim, reused ${reused.size}")
    // reads across the re-anchor stay exact
    val (df, idx) = SnapshotScan.scan(spark, t)
    assert(df.filter(col("part") === "0").count() === 10L + 17L * 5L)
    assert(idx.lastMetaGroupsRead === 1)
    assert(df.count() === 1000L + 17L * 5L)
    // orphan-group GC: expire history, then a zero-grace vacuum sweeps
    // group files only the dropped anchors referenced — and every
    // surviving read still resolves
    SnapshotTable.expireSnapshots(spark, t, keepLast = 1)
    val before = new org.apache.hadoop.fs.Path(t, "_manifests/groups")
    val f = before.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val nBefore = f.listStatus(before).count(
      _.getPath.getName.endsWith(".grp"))
    SnapshotTable.vacuumOrphans(spark, t, graceMs = 0L)
    val nAfter = f.listStatus(before).count(
      _.getPath.getName.endsWith(".grp"))
    assert(nAfter < nBefore,
      s"unreferenced groups must be swept ($nBefore -> $nAfter)")
    assert(nAfter >= 100,
      "every group the live anchor references must survive")
    assert(SnapshotTable.read(spark, t).count() === 1000L + 17L * 5L)
    val (df2, _) = SnapshotScan.scan(spark, t)
    assert(df2.filter(col("part") === "13").count() === 10L)
  }

  test("cluster-range chunk groups: an UNPARTITIONED clustered " +
      "anchor prunes whole groups on the key range with zero " +
      "listings; chain mutations dirty only their batch's chunks and " +
      "the re-anchor stays exact") {
    import graft.sources.SnapshotScan
    val t = freshTable("cluster_tier")
    val df = spark.range(3000).select(col("id").as("k"),
      (col("id") % 7).cast("string").as("s"))
    SnapshotTable.create(spark, t, df, numFiles = 4)
    SnapshotTable.compact(spark, t, clusterBy = Seq("k"), numFiles = 64)
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.files.size === 64)
    assert(snap.cleanGroups.size === 4,
      s"64 range-sorted files chunk into 4 groups of 16, got " +
        s"${snap.cleanGroups.size}")
    val (d1, idx) = SnapshotScan.scan(spark, t)
    assert(d1.filter(col("k") < 100).count() === 100L)
    assert(idx.lastMetaGroupsRead === 1,
      s"a narrow range must read ONE chunk's metadata, read " +
        s"${idx.lastMetaGroupsRead}")
    assert(idx.lastListedDirs === 0)
    // CoW update rewrites one file of the anchored batch (its chunks
    // go dirty); 16 further commits force the chain re-anchor
    SnapshotTable.updateWhere(spark, t, col("k") === 10,
      Map("s" -> lit("X")))
    (1 to 16).foreach(i => SnapshotTable.append(spark, t,
      spark.range(3000L + i * 10, 3000L + i * 10 + 10)
        .select(col("id").as("k"), lit("a").as("s"))))
    val snap2 = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap2.depth === 0, "the depth-17 commit must re-anchor")
    assert(snap2.cleanGroups.nonEmpty,
      "the re-anchor must stay GROUPED")
    val (d2, idx2) = SnapshotScan.scan(spark, t)
    assert(d2.count() === 3160L)
    assert(d2.filter(col("k") === 10).head().getString(1) === "X",
      "the chunk-dirty tracking must never resurrect a rewritten file")
    d2.filter(col("k") < 100).count()
    assert(idx2.lastMetaGroupsRead >= 1 &&
      idx2.lastMetaGroupsRead * 3 < snap2.cleanGroups.size,
      s"re-anchored chunk bounds must still prune (read " +
        s"${idx2.lastMetaGroupsRead} of ${snap2.cleanGroups.size})")
  }

  test("partitioned grouped anchors prune on NON-partition " +
      "predicates through per-group column bounds") {
    import graft.sources.SnapshotScan
    val t = freshTable("group_stats")
    val df = spark.range(6000).select(col("id").as("k"),
      (col("id") / 100).cast("int").cast("string").as("part"))
    SnapshotTable.createPartitioned(spark, t, df, "part")
    // per-partition re-sort records k stats (statsCols = cluster key);
    // the 60-label layout stays grouped
    SnapshotTable.compact(spark, t, clusterBy = Seq("k"))
    val snap = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    assert(snap.files.size >= 48 && snap.cleanGroups.size >= 48,
      s"expected a grouped 60-label anchor, got ${snap.files.size} " +
        s"files / ${snap.cleanGroups.size} groups")
    val (d, idx) = SnapshotScan.scan(spark, t)
    assert(d.filter(col("k").between(150, 250)).count() === 101L)
    assert(idx.lastMetaGroupsRead <= 3,
      s"a k-range spanning two partitions' bounds must read ≤3 of " +
        s"${snap.cleanGroups.size} groups, read ${idx.lastMetaGroupsRead}")
    assert(idx.lastListedDirs === 0)
  }

  test("materialized views: a non-maintainable definition (DISTINCT " +
      "count) falls back to FULL recompute, stays exact through " +
      "mutations, and a replayed refresh is a noop; a foreign " +
      "definition is refused") {
    val t = freshTable("mv_src_full")
    val m = freshTable("mv_full")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    GraftExtensions.register(spark)
    val defn = "SELECT o_orderstatus, " +
      "count(DISTINCT o_totalprice) AS p, " +
      "count(1) AS n FROM __source__ GROUP BY o_orderstatus"
    spark.sql(s"SELECT * FROM graft_create_mv('$m', '$t', " +
      s""""$defn")""").collect()
    // a DISTINCT aggregate is not maintainable under deletes — the
    // refresh must take the full-recompute path and still be exact
    SnapshotTable.deleteWhere(spark, t, col("o_orderkey") % 7 === 0)
    SnapshotTable.updateWhere(spark, t, col("o_orderkey") % 11 === 0,
      Map("o_totalprice" -> (col("o_totalprice") + 1)))
    val r = spark.sql(s"SELECT * FROM graft_refresh_mv('$m')").head()
    assert(r.getString(0) === "full",
      s"DISTINCT cannot net under deletes — expected full, got $r")
    val got = SnapshotTable.read(spark, m)
      .orderBy(col("o_orderstatus")).collect().toSeq
    val want = SnapshotTable.read(spark, t)
      .groupBy(col("o_orderstatus"))
      .agg(countDistinct(col("o_totalprice")).as("p"),
        count(lit(1)).as("n"))
      .orderBy(col("o_orderstatus")).collect().toSeq
    assert(got === want, "full recompute must equal the definition " +
      "over the current source")
    val r2 = spark.sql(s"SELECT * FROM graft_refresh_mv('$m')").head()
    assert(r2.getString(0) === "noop",
      "the cdcUpTo mark must make a replayed refresh exactly-once")
    // a definition that does not read __source__ is refused at create
    val m2 = freshTable("mv_bad")
    val e = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_create_mv('$m2', '$t', " +
        """"SELECT 1 AS x")""").collect()
    }
    assert(e.getMessage.contains("__source__"))
    // refreshing a non-MV table is refused
    val e2 = intercept[Exception] {
      spark.sql(s"SELECT * FROM graft_refresh_mv('$t')").collect()
    }
    assert(e2.getMessage.contains("mvSource"))
  }

  test("native SQL materialized views: CREATE MATERIALIZED VIEW by " +
      "catalog name over a NAMED source, SELECT by name hides the " +
      "maintained state, staleness surfaces in graft_detail, REFRESH " +
      "is incremental, maintain() auto-refreshes, EXPLAIN is a no-op") {
    import spark.implicits._
    val t = freshTable("mvsql_src")
    SnapshotTable.create(spark, t,
      Seq((1L, "a", 2L), (2L, "a", 4L), (3L, "b", 6L)).toDF("k", "g", "x"),
      numFiles = 1)
    val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(spark,
      e => new GraftExtensions()(e))
    val src = s"graft_mvsql_src_${System.nanoTime()}"
    val mv = s"graft_mvsql_mv_${System.nanoTime()}"
    try {
      s2.sql(s"CREATE TABLE $src USING graft LOCATION '$t'")
      // EXPLAIN form: descriptive no-op, nothing created
      val ex = s2.sql(s"EXPLAIN CREATE MATERIALIZED VIEW $mv AS " +
        s"SELECT g, count(1) AS n, sum(x) AS sx FROM $src GROUP BY g")
        .head()
      assert(ex.getString(0) === "CREATE MATERIALIZED VIEW")
      assert(!org.apache.spark.sql.GraftShim.v1Catalog(s2).tableExists(
        org.apache.spark.sql.catalyst.TableIdentifier(mv)),
        "EXPLAIN must not create the MV")
      // create by name: lands at the catalog default location,
      // registers as a graft table, the definition names the source
      val cr = s2.sql(s"CREATE MATERIALIZED VIEW $mv AS " +
        s"SELECT g, count(1) AS n, sum(x) AS sx FROM $src GROUP BY g")
        .head()
      assert(cr.getLong(2) === 1L)
      val got0 = s2.sql(s"SELECT * FROM $mv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got0 === Set(("a", 2L, 6L), ("b", 1L, 6L)))
      assert(s2.sql(s"SELECT * FROM $mv").columns.toSeq ===
        Seq("g", "n", "sx"),
        "the named read must hide the maintained-state columns")
      // freshness observability before/after a source mutation (the
      // CREATE row reports the resolved path — the detail TVF's key)
      val mvPath = cr.getString(0)
      assert(s2.sql(s"SELECT mv_stale FROM graft_detail('$mvPath')")
        .head().getBoolean(0) === false)
      s2.sql(s"INSERT INTO $src VALUES (4, 'b', 8)").collect()
      assert(s2.sql(s"SELECT mv_stale FROM graft_detail('$mvPath')")
        .head().getBoolean(0) === true,
        "a source commit past the mark must surface as stale")
      // REFRESH by name engages the incremental path
      val rf = s2.sql(s"REFRESH MATERIALIZED VIEW $mv").head()
      assert(rf.getString(0) === "incremental", s"got $rf")
      val got1 = s2.sql(s"SELECT * FROM $mv").collect()
        .map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
      assert(got1 === Set(("a", 2L, 6L), ("b", 2L, 14L)))
      // maintain() folds "refresh stale MVs" into the autopilot
      // (path-keyed like every maintenance verb — read back through
      // the path surface)
      s2.sql(s"INSERT INTO $src VALUES (5, 'a', 10)").collect()
      val mnt = s2.sql(s"SELECT * FROM graft_maintain('$mvPath')").head()
      assert(mnt.getAs[String]("mv_refresh") === "incremental",
        s"maintain must refresh the stale MV, got $mnt")
      assert(s2.sql(s"SELECT sx FROM graft_snapshot('$mvPath') " +
        "WHERE g = 'a'").head().getLong(0) === 16L)
      assert(s2.sql(s"SELECT mv_stale FROM graft_detail('$mvPath')")
        .head().getBoolean(0) === false)
      // EXPLAIN REFRESH: no-op (the mark must not move)
      s2.sql(s"INSERT INTO $src VALUES (6, 'b', 1)").collect()
      s2.sql(s"EXPLAIN REFRESH MATERIALIZED VIEW $mv").collect()
      assert(s2.sql(s"SELECT mv_stale FROM graft_detail('$mvPath')")
        .head().getBoolean(0) === true,
        "EXPLAIN REFRESH must not execute the refresh")
    } finally {
      s2.sql(s"DROP TABLE IF EXISTS $mv")
      s2.sql(s"DROP TABLE IF EXISTS $src")
    }
  }

  test("session-scoped WAP branch (SET graft.branch): plain SQL DML, " +
      "the writer and unpinned reads land on the branch; tables " +
      "without the branch stay on main; publish lands everything with " +
      "the conf still set") {
    val t = freshTable("wap_conf")
    val tOther = freshTable("wap_conf_other")
    SnapshotTable.create(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0), numFiles = 2)
    SnapshotTable.create(spark, tOther, orders.limit(10), numFiles = 1)
    SnapshotTable.createBranch(spark, t, "audit")
    GraftExtensions.register(spark)
    val mainBefore = SnapshotTable.read(spark, t).count()
    try {
      spark.conf.set("graft.branch", "audit")
      // SQL DML — no graft_branch_dml quoting — lands on the branch
      // (the runtime-registered procedure route; ExtensionsSuite
      // drives the native-statement route on an extensions session)
      spark.sql(s"SELECT * FROM graft_dml(" +
        s""""DELETE FROM `$t` WHERE o_orderkey % 10 = 0")""").collect()
      val branchN = SnapshotTable.readBranch(spark, t, "audit").count()
      assert(branchN < mainBefore, "the DELETE must hit the branch")
      // …and main is untouched (read WITHOUT the conf in scope)
      spark.conf.unset("graft.branch")
      assert(SnapshotTable.read(spark, t).count() === mainBefore)
      spark.conf.set("graft.branch", "audit")
      // Scala-verb writes redirect too (same loadCurrent seam)
      SnapshotTable.append(spark, t, orders.limit(3).select(
        (col("o_orderkey") + 98000000L).as("o_orderkey"),
        col("o_orderstatus"), col("o_totalprice")))
      assert(SnapshotTable.readBranch(spark, t, "audit").count() ===
        branchN + 3)
      // unpinned provider reads see the branch (WAP read-your-writes)
      assert(spark.read.format("graft").load(t).count() === branchN + 3)
      // an explicit version pin beats the conf
      assert(spark.read.format("graft").option("versionAsOf", "1")
        .load(t).count() === mainBefore)
      // a table WITHOUT the branch stays on main — the session conf
      // must not break unrelated reads or writes
      assert(SnapshotTable.read(spark, tOther).count() === 10L)
      SnapshotTable.append(spark, tOther, orders.limit(2).select(
        col("o_orderkey"), col("o_orderstatus"), col("o_totalprice")))
      assert(SnapshotTable.readBranch(spark, t, "audit").count() ===
        branchN + 3, "the other table's append must not hit the branch")
      spark.conf.unset("graft.branch")
      assert(SnapshotTable.read(spark, tOther).count() === 12L)
      spark.conf.set("graft.branch", "audit")
      // explicit withBranch naming a DIFFERENT branch conflicts loudly
      SnapshotTable.createBranch(spark, t, "other")
      val e = intercept[IllegalStateException] {
        SnapshotTable.withBranch(spark, t, "other") {
          SnapshotTable.read(spark, t).count()
        }
      }
      assert(e.getMessage.contains("graft.branch"))
      SnapshotTable.dropBranch(spark, t, "other")
      // NATIVE statements on an extensions-built session follow the
      // same conf — zero quoting, the Iceberg spark.wap.branch shape
      val s2 = org.apache.spark.sql.GraftShim.sessionWithExtensions(
        spark, ext => new GraftExtensions()(ext))
      s2.conf.set("graft.branch", "audit")
      s2.sql(s"DELETE FROM `$t` WHERE o_orderkey >= 98000000").head()
      assert(SnapshotTable.readBranch(spark, t, "audit").count() ===
        branchN, "the native DELETE must land on the branch")
      spark.conf.unset("graft.branch")
      assert(SnapshotTable.read(spark, t).count() === mainBefore,
        "main must be untouched by the native branch DELETE")
      spark.conf.set("graft.branch", "audit")
      // publish works with the conf STILL SET (noWap: the main commit
      // is never redirected back onto the branch)
      val v = SnapshotTable.publishBranch(spark, t, "audit")
      spark.conf.unset("graft.branch")
      assert(SnapshotTable.currentVersion(spark, t) === v)
      assert(SnapshotTable.read(spark, t).count() === branchN)
      assert(SnapshotTable.branches(spark, t).isEmpty)
    } finally spark.conf.unset("graft.branch")
  }

  test("branch history/detail observability: graft_history(t, branch) " +
      "reads the staged commit sequence, graft_detail(t, branch) the " +
      "branch head — the WAP audit trail, SQL-reachable") {
    val t = freshTable("branch_hist")
    SnapshotTable.create(spark, t,
      orders.filter(col("o_orderkey") % 2 === 0), numFiles = 2)
    SnapshotTable.createBranch(spark, t, "bh")
    SnapshotTable.appendToBranch(spark, t, "bh", orders.limit(4).select(
      (col("o_orderkey") + 99000000L).as("o_orderkey"),
      col("o_orderstatus"), col("o_totalprice")))
    SnapshotTable.withBranch(spark, t, "bh") {
      SnapshotTable.deleteWhere(spark, t,
        col("o_orderkey") >= 99000000L)
    }
    GraftExtensions.register(spark)
    val hist = spark.sql(s"SELECT * FROM graft_history('$t', 'bh')")
      .collect()
    assert(hist.length === 3, s"fork + 2 commits, got ${hist.length}")
    assert(hist.map(_.getAs[Long]("seq")).toSeq === Seq(0L, 1L, 2L))
    assert(hist.forall(_.getAs[Long]("branch_base") === 1L))
    assert(hist(1).getAs[Int]("files_added") === 1,
      "the append staged one file")
    val detail = spark.sql(s"SELECT * FROM graft_detail('$t', 'bh')")
      .head()
    assert(detail.getAs[Long]("version") === 2L,
      "branch detail reports the head sequence")
    // main-line history/detail unchanged
    assert(spark.sql(s"SELECT * FROM graft_history('$t')")
      .collect().length === 1)
    assert(spark.sql(s"SELECT * FROM graft_detail('$t')")
      .head().getAs[Long]("version") === 1L)
    // EXPLAIN over the branch forms mutates nothing
    spark.sql(s"EXPLAIN SELECT * FROM graft_history('$t', 'bh')")
      .collect()
    assert(SnapshotTable.branches(spark, t)
      .map(r => (r._1, r._3)) === Seq(("bh", 2)))
  }

  test("every create form rejects a bad layout column before staging") {
    // `a.b` is a real top-level column whose name needs quoting; `nope`
    // does not exist
    val df = spark.range(0, 4).select(col("id").as("k"),
      pmod(col("id"), lit(2L)).as("a.b"), col("id").as("v"))
    val creates: Seq[(String, String => Long)] = Seq(
      "String a.b" -> (SnapshotTable.createPartitioned(spark, _, df, "a.b")),
      "String nope" -> (SnapshotTable.createPartitioned(spark, _, df, "nope")),
      "Seq a.b" -> (SnapshotTable.createPartitioned(spark, _, df, Seq("a.b"))),
      "Seq nope" ->
        (SnapshotTable.createPartitioned(spark, _, df, Seq("nope"))),
      "clustered nope" -> (SnapshotTable.createClustered(spark, _, df, "nope")))
    creates.foreach { case (form, create) =>
      val t = freshTable("badlayout")
      withClue(form) {
        intercept[IllegalArgumentException](create(t))
        assert(SnapshotTable.currentVersion(spark, t) === 0L)
      }
    }
  }

  test("on-disk layout format: every create form writes the same meta " +
      "keys, per-file labels and bucket tags at create and append") {
    // pins the layout encoding (manifest meta + file labels + bucket
    // file names) against a frame whose partition values need label
    // escaping (a space and a comma)
    def frame(from: Long, n: Long): DataFrame =
      spark.range(from, from + n).select(col("id").as("k"),
        element_at(array(lit("a b"), lit("x,y"), lit("z")),
          (pmod(col("id"), lit(3L)) + 1).cast("int")).as("s"),
        pmod(col("id"), lit(2L)).as("g"),
        (lit(1704067200L) + col("id") * 43200L).cast("timestamp")
          .as("ts"),
        (col("id") * 10).as("v"))
    def enc(x: String) = java.net.URLEncoder.encode(x, "UTF-8")
    def day(r: org.apache.spark.sql.Row) = r.getAs[java.sql.Timestamp]("ts")
      .toInstant.atZone(java.time.ZoneOffset.UTC).toLocalDate.toString
    final case class Case(name: String, create: String => Unit,
        meta1: Map[String, String],
        meta2: Map[String, String], label: Option[org.apache.spark.sql.Row => String],
        labels1: Set[String], labels2: Set[String], partDirs: Int,
        buckets: Option[Int])
    val sLabels = Set("a b", "x,y", "z")
    val sEnc = sLabels.map(enc)
    val dupes = (0 to 5).map(i => s"${Seq("a+b", "x%2Cy", "z")(i % 3)},${i % 2}").toSet
    val days1 = (0 until 12).map(d => java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString).toSet
    val days2 = (50 until 56).map(d => java.time.LocalDate.of(2024, 1, 1).plusDays(d).toString).toSet
    val cases = Seq(
      Case("plain", t => SnapshotTable.create(spark, t, frame(0, 24), 4),
        Map.empty, Map.empty, None, Set.empty, Set.empty, 0, None),
      Case("part_string", t => SnapshotTable.createPartitioned(spark, t,
        frame(0, 24), "s"),
        Map("partitionCol" -> "s"), Map("partitionCol" -> "s"),
        Some(r => r.getAs[String]("s")), sLabels, sLabels, 1, None),
      Case("part_seq1", t => SnapshotTable.createPartitioned(spark, t,
        frame(0, 24), Seq("s")),
        Map("partitionCol" -> "s"), Map("partitionCol" -> "s"),
        Some(r => r.getAs[String]("s")), sLabels, sLabels, 1, None),
      Case("part_seq2", t => SnapshotTable.createPartitioned(spark, t,
        frame(0, 24), Seq("s", "g")),
        Map("partitionCols" -> "s,g"), Map("partitionCols" -> "s,g"),
        Some(r => enc(r.getAs[String]("s")) + "," + r.getAs[Long]("g")),
        dupes, dupes, 2, None),
      Case("part_days", t => SnapshotTable.createPartitioned(spark, t,
        frame(0, 24), Seq("days(ts)")),
        Map("partitionSpec" -> "days%28ts%29", "partitionCols" -> "ts"),
        Map("partitionSpec" -> "days%28ts%29", "partitionCols" -> "ts"),
        Some(r => enc(day(r))), days1, days1 ++ days2, 1, None),
      Case("bucketed", t => SnapshotTable.createBucketed(spark, t,
        frame(0, 24), "k", 4, Seq("v")),
        Map("bucketCols" -> "k", "bucketN" -> "4", "bucketSort" -> "v"),
        Map("bucketCols" -> "k", "bucketN" -> "4", "bucketSort" -> "v"),
        None, Set.empty, Set.empty, 0, Some(4)),
      Case("bucketed_part", t => SnapshotTable.createBucketed(spark, t,
        frame(0, 24), Seq("k"), 4, Nil, Seq("s")),
        Map("bucketCols" -> "k", "bucketN" -> "4", "partitionCols" -> "s"),
        Map("bucketCols" -> "k", "bucketN" -> "4", "partitionCols" -> "s"),
        Some(r => enc(r.getAs[String]("s"))), sEnc, sEnc, 1, Some(4)),
      Case("clustered", t => SnapshotTable.createClustered(spark, t,
        frame(0, 24), "k", numFiles = 4),
        Map("statsCols" -> "k", "clusterCols" -> "k"),
        Map("statsCols" -> "k", "clusterCols" -> "k"),
        None, Set.empty, Set.empty, 0, None),
      Case("identity", t => SnapshotTable.createWithIdentity(spark, t,
        frame(0, 24), numFiles = 4),
        Map("identityCol" -> "id", "identityHwm" -> "24"),
        Map("identityCol" -> "id", "identityHwm" -> "36"),
        None, Set.empty, Set.empty, 0, None),
      Case("identity_part", t => SnapshotTable.createWithIdentity(spark, t,
        frame(0, 24), partitionCols = Seq("s")),
        Map("identityCol" -> "id", "identityHwm" -> "24",
          "partitionCol" -> "s"),
        Map("identityCol" -> "id", "identityHwm" -> "36",
          "partitionCol" -> "s"),
        Some(r => r.getAs[String]("s")), sLabels, sLabels, 1, None))
    val untagged = """part-\d{5}-[0-9a-f-]+?[-.]c\d{3}(?:\.[a-z]+)*\.parquet""".r
    val tagged =
      """part-(\d{5})-[0-9a-f-]+?(?:-c\d{3})?_(\d{5})(?:\.c\d{3})?(?:\.[a-z]+)*\.parquet""".r
    cases.foreach { c =>
      val t = freshTable(s"fmt_${c.name}")
      c.create(t)
      SnapshotTable.append(spark, t, frame(100, 12))
      Seq((1L, c.meta1, c.labels1), (2L, c.meta2, c.labels2)).foreach {
        case (v, meta, labels) =>
          val snap = SnapshotTable.readManifest(spark, t, v)
          assert(snap.meta === meta, s"${c.name} v$v meta")
          assert(snap.partitionOf.values.toSet === labels,
            s"${c.name} v$v labels")
          assert(snap.files.nonEmpty)
          snap.files.foreach { rel =>
            val parts = rel.split('/').toSeq
            assert(parts.take(2).head === "data" &&
              parts(1).startsWith("b-"), s"${c.name}: $rel")
            val dirs = parts.drop(2).init
            assert(dirs.size === c.partDirs &&
              dirs.forall(_.matches("""__part\d*=.+""")),
              s"${c.name}: $rel")
            val rows = spark.read.parquet(s"$t/$rel").collect()
            c.label match {
              case Some(f) =>
                assert(rows.map(f).toSet === snap.partitionOf.get(rel).toSet,
                  s"${c.name} v$v: label of $rel")
              case None => assert(!snap.partitionOf.contains(rel))
            }
            (c.buckets, parts.last) match {
              case (Some(n), tagged(idx, b)) =>
                assert(idx === b, s"${c.name}: $rel")
                val ids = spark.read.parquet(s"$t/$rel")
                  .select(pmod(hash(col("k")), lit(n))).distinct()
                  .collect().map(_.getInt(0)).toSeq
                assert(ids === Seq(b.toInt), s"${c.name}: bucket of $rel")
              case (None, untagged(_*)) =>
              case (_, name) => fail(s"${c.name} v$v: file name $name")
            }
          }
      }
    }
  }

  test("per-file metadata: every file-adding verb records each live " +
      "file's label, bytes, row count and declared min/max") {
    val t = freshTable("entry_meta")
    // `v` is NULL on every 5th row, so declared stats cover files with
    // and without nulls
    def frame(from: Long, n: Long): DataFrame =
      spark.range(from, from + n).select(col("id").as("k"),
        concat(lit("p"), pmod(col("id"), lit(3L)).cast("string")).as("part"),
        when(pmod(col("id"), lit(5L)) === 0, lit(null).cast("long"))
          .otherwise(col("id") * 10).as("v"))
    val fsys = new org.apache.hadoop.fs.Path(t)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def check(step: String): Unit = {
      val snap = SnapshotTable.readManifest(spark, t,
        SnapshotTable.currentVersion(spark, t))
      val live = snap.files.toSet
      assert(live.size === snap.files.size, s"$step: duplicate entries")
      Seq("label" -> snap.partitionOf.keySet, "stats" -> snap.statsOf.keySet,
        "extra" -> snap.extraOf.keySet).foreach { case (what, keys) =>
        assert(keys.subsetOf(live),
          s"$step: $what for files outside v${snap.version}: ${keys -- live}")
      }
      val partitioned = TableLayout.of(snap).partitions.nonEmpty
      assert(partitioned || step == "create", s"$step: layout lost")
      val declared = snap.meta("statsCols").split(',').toSeq
      assert(declared.toSet === Set("k", "v"), s"$step: statsCols")
      val perFile = spark.read.schema(snap.schema)
        .parquet(snap.files.map(f => s"$t/$f"): _*)
        .groupBy(input_file_name().as("f"))
        .agg(count(lit(1)).as("rows"), collect_set(col("part")).as("parts"),
          min("k").cast("string"), max("k").cast("string"),
          min("v").cast("string"), max("v").cast("string"))
        .collect().map { r =>
          val abs = r.getString(0)
          abs.substring(abs.lastIndexOf("/data/b-") + 1) -> r
        }.toMap
      snap.files.foreach { f =>
        val r = perFile.get(f)
        val extra = snap.extraOf.getOrElse(f, Map.empty)
        assert(extra.get("bytes") ===
          Some(fsys.getFileStatus(new org.apache.hadoop.fs.Path(t, f))
            .getLen.toString), s"$step: bytes of $f")
        assert(extra.get("rows") ===
          Some(r.map(_.getLong(1)).getOrElse(0L).toString),
          s"$step: rows of $f")
        if (partitioned)
          assert(r.map(_.getSeq[String](2).toSet).getOrElse(Set.empty) ===
            snap.partitionOf.get(f).toSet, s"$step: label of $f")
        declared.zipWithIndex.foreach { case (c, i) =>
          val bounds = r.flatMap(x => Option(x.getString(3 + 2 * i))
            .map(_ -> x.getString(4 + 2 * i)))
          assert(snap.statsOf.getOrElse(f, Map.empty).get(c) === bounds,
            s"$step: $c bounds of $f")
        }
      }
    }
    SnapshotTable.createClustered(spark, t, frame(0, 60), "k",
      numFiles = 4, statsCols = Seq("k", "v"))
    check("create")
    val src = frame(10, 3).withColumn("v", lit(-1L))
      .union(frame(200, 4))
    val verbs: Seq[(String, () => Unit)] = Seq(
      "repartitionTable" -> (() =>
        SnapshotTable.repartitionTable(spark, t, Seq("part"))),
      "append" -> (() => SnapshotTable.append(spark, t, frame(100, 30))),
      "updateWhere" -> (() => SnapshotTable.updateWhere(spark, t,
        col("k") === 5L, Map("v" -> lit(7L)))),
      "deleteWhere" -> (() =>
        SnapshotTable.deleteWhere(spark, t, col("k") === 7L)),
      "mergeInto" -> (() => SnapshotTable.mergeInto(spark, t, src, "k")),
      "mergeIntoFull" -> (() => SnapshotTable.mergeIntoFull(spark, t,
        frame(20, 2).union(frame(220, 2)), Seq("k" -> "k"),
        matched = Seq(SnapshotTable.MergeWhen(None,
          Some(Map("v" -> lit(3L))))),
        notMatchedBySource = Nil,
        notMatched = Seq(SnapshotTable.MergeInsert(None, Map(
          "k" -> SnapshotTable.srcRef("k"),
          "part" -> SnapshotTable.srcRef("part"),
          "v" -> SnapshotTable.srcRef("v")))))),
      "updateWhereVector" -> (() => SnapshotTable.updateWhereVector(spark,
        t, col("k") === 11L, Map("v" -> lit(1L)))),
      "compact" -> (() => SnapshotTable.compact(spark, t)),
      "compactPartitions" -> (() =>
        SnapshotTable.compactPartitions(spark, t, Set("p1"))),
      "replaceContents" -> (() =>
        SnapshotTable.replaceContents(spark, t, frame(0, 45))),
      "commitStreamBatch" -> (() =>
        SnapshotTable.commitStreamBatch(spark, t, frame(300, 9), 0L)),
      "publishBranch cherry-pick" -> { () =>
        SnapshotTable.createBranch(spark, t, "side")
        SnapshotTable.withBranch(spark, t, "side") {
          SnapshotTable.append(spark, t, frame(400, 6)) }
        SnapshotTable.append(spark, t, frame(500, 6))
        SnapshotTable.publishBranch(spark, t, "side", cherryPick = true)
      })
    verbs.foreach { case (name, run) =>
      val before = SnapshotTable.currentVersion(spark, t)
      run()
      assert(SnapshotTable.currentVersion(spark, t) > before,
        s"$name committed nothing")
      check(name)
    }
  }

  test("mergeInto equivalence: update-only, insert-only, mixed, duplicate " +
      "and NULL source keys, empty and all-matching sources on plain, " +
      "partitioned and clustered tables, one with a deletion vector") {
    import org.apache.spark.sql.Row
    val k = col("o_orderkey")
    // the four orders columns as (key, custkey, status, price)
    val base = Tables.orders(spark, sf).select(k, col("o_custkey"),
      col("o_orderstatus"), col("o_totalprice"))
    val dvKey = base.filter(k % 9 === 3).agg(min(k)).head().getLong(0)
    val layouts: Seq[(String, String => Unit)] = Seq(
      "plain + deletion vector" -> { t =>
        SnapshotTable.create(spark, t, base, numFiles = 4)
        SnapshotTable.deleteWhereVector(spark, t, k % 9 === 3)
      },
      "partitioned" -> { t =>
        SnapshotTable.createPartitioned(spark, t, base, "o_orderstatus")
      },
      "clustered" -> { t =>
        SnapshotTable.createClustered(spark, t, base, "o_orderkey",
          numFiles = 4)
      })
    // each case builds its source from the table's live rows
    val cases: Seq[(String, DataFrame => DataFrame)] = Seq(
      "update-only" -> (live => live.filter(k % 7 === 0).select(k,
        lit(null).cast("long").as("o_custkey"), lit("U").as("o_orderstatus"),
        (col("o_totalprice") + 1).as("o_totalprice"))),
      "insert-only (+ the DV-deleted key)" -> (live => live
        .filter(k % 13 === 1).select((k + 9000000L).as("o_orderkey"),
          col("o_custkey"), lit("I").as("o_orderstatus"),
          col("o_totalprice"))
        .union(base.filter(k === dvKey)
          .withColumn("o_orderstatus", lit("D")))),
      "mixed" -> (live => live.filter(k % 11 === 0).select(
        (when(k % 2 === 0, k).otherwise(k + 8000000L)).as("o_orderkey"),
        col("o_custkey"), lit("M").as("o_orderstatus"),
        (col("o_totalprice") * 2).as("o_totalprice"))),
      "duplicate source keys" -> { live =>
        val s = live.filter(k % 17 === 0).select(
          (when(k % 2 === 0, k).otherwise(k + 7000000L)).as("o_orderkey"),
          col("o_custkey"), lit("X").as("o_orderstatus"),
          col("o_totalprice"))
        s.union(s)
      },
      "NULL source key" -> (live => live.filter(k % 19 === 0).select(k,
        col("o_custkey"), lit("N").as("o_orderstatus"), col("o_totalprice"))
        .union(live.limit(1).select(lit(null).cast("long").as("o_orderkey"),
          col("o_custkey"), lit("Z").as("o_orderstatus"),
          col("o_totalprice")))),
      "empty source" -> (live => live.limit(0)),
      "matches every row" -> (live => live.filter(k.isNotNull).select(k,
        col("o_custkey"), lit("A").as("o_orderstatus"),
        col("o_totalprice"))))
    def render(rows: Seq[Row]): Seq[String] = rows.map(_.toString).sorted
    layouts.foreach { case (layout, create) =>
      val t = freshTable("mergeeq")
      create(t)
      cases.foreach { case (name, mk) =>
        val what = s"$layout / $name"
        val live = SnapshotTable.read(spark, t)
        val prev = live.collect().toSeq
        val srcRows = mk(live).select(base.schema.map(f =>
          col(f.name).cast(f.dataType).as(f.name)): _*).collect().toSeq
        // the model: duplicates collapse to one row per key (NULL is one
        // key); a live key takes the source's non-NULL columns, any other
        // source key inserts its row verbatim
        val byKey = srcRows.groupBy(r => Option(r.get(0))).map {
          case (key, rs) => key -> rs.head }
        val liveKeys = prev.flatMap(r => Option(r.get(0))).toSet
        val updatedRows = prev.map { r =>
          byKey.get(Option(r.get(0))).filter(_ => !r.isNullAt(0)) match {
            case Some(s) => Row.fromSeq(r.toSeq.indices.map(i =>
              if (s.isNullAt(i)) r.get(i) else s.get(i)))
            case None => r
          }
        }
        val inserts = byKey.collect {
          case (key, s) if key.forall(kv => !liveKeys(kv)) => s }.toSeq
        val expUpd = prev.count(r =>
          !r.isNullAt(0) && byKey.contains(Some(r.get(0)))).toLong
        def snap() = SnapshotTable.readManifest(spark, t,
          SnapshotTable.currentVersion(spark, t))
        val before = snap()
        val (v, upd, ins, rewritten) = SnapshotTable.mergeInto(spark, t,
          spark.createDataFrame(spark.sparkContext.parallelize(srcRows, 2),
            base.schema), "o_orderkey")
        assert((upd, ins) === ((expUpd, inserts.size.toLong)), what)
        val after = snap()
        if (upd + ins == 0) {
          assert((v, rewritten) === ((before.version, 0)), what)
          assert(after.version === before.version, what)
        } else assert(v === before.version + 1, what)
        assert(rewritten === (before.files.toSet -- after.files).size, what)
        assert((rewritten > 0) === (upd > 0), what)
        assert(render(SnapshotTable.read(spark, t).collect().toSeq) ===
          render(updatedRows ++ inserts), what)
      }
    }
  }

  private def dvDirs(t: String): Seq[String] = {
    val p = new org.apache.hadoop.fs.Path(t, "data")
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).listStatus(p)
      .map(_.getPath.getName).filter(_.startsWith("dv-")).toSeq
  }

  test("row verbs: mergeInto stages one batch, deletion vectors are " +
      "counted without a count job, zero-match DV verbs leave nothing") {
    val t = freshTable("jobshape")
    val k = col("o_orderkey")
    SnapshotTable.create(spark, t, orders, numFiles = 4)
    def snap() = SnapshotTable.readManifest(spark, t,
      SnapshotTable.currentVersion(spark, t))
    // an upsert with both updated and inserted rows adds ONE batch
    val before = snap()
    val src = orders.filter(k % 50 === 0)
      .withColumn("o_orderstatus", lit("M"))
      .union(orders.filter(k % 100 === 7)
        .withColumn("o_orderkey", k + 9000000L))
    val (_, upd, ins, _) = SnapshotTable.mergeInto(spark, t, src,
      "o_orderkey")
    assert(upd > 0 && ins > 0)
    val added = snap().files.filterNot(before.files.toSet)
    assert(added.nonEmpty &&
      added.map(_.split('/')(1)).distinct.size === 1 &&
      added.forall(_.startsWith("data/b-")),
      s"one mergeInto commit must add files from one batch: $added")
    // the DV verbs count their rows on the vector write itself
    val dvJobs = jobsOf {
      assert(SnapshotTable.deleteWhereVector(spark, t, k % 17 === 0)._2 > 0)
      assert(SnapshotTable.updateWhereVector(spark, t, k % 19 === 0,
        Map("o_orderstatus" -> lit("V")))._2 > 0)
    }
    assert(dvJobs.exists(_.startsWith("graft: stage deletion vector")),
      s"the fence must see the DV writes: $dvJobs")
    assert(!dvJobs.contains("graft: count deletion vector"), dvJobs)
    // a DV verb that matches nothing commits nothing and leaves no batch
    val v = SnapshotTable.currentVersion(spark, t)
    val dirs = dvDirs(t)
    assert(SnapshotTable.deleteWhereVector(spark, t, k === -1L) === ((v, 0L)))
    assert(SnapshotTable.updateWhereVector(spark, t, k === -1L,
      Map("o_orderstatus" -> lit("W"))) === ((v, 0L)))
    assert(SnapshotTable.currentVersion(spark, t) === v)
    assert(dvDirs(t) === dirs, "a zero-match DV verb must leave no dv-* dir")
  }

  test("a bad UPDATE assignment throws before any job runs, staging " +
      "nothing") {
    val t = freshTable("badset")
    SnapshotTable.create(spark, t, orders, numFiles = 2)
    val v = SnapshotTable.currentVersion(spark, t)
    val jobs = jobsOf {
      intercept[IllegalArgumentException] {
        SnapshotTable.updateWhereVector(spark, t,
          col("o_orderkey") % 3 === 0, Map("nope" -> lit(1L)))
      }
      intercept[IllegalArgumentException] {
        SnapshotTable.updateWhere(spark, t,
          col("o_orderkey") % 3 === 0, Map("nope" -> lit(1L)))
      }
    }
    assert(jobs.isEmpty, s"validation must precede every job: $jobs")
    assert(dvDirs(t).isEmpty, "no orphan dv-* batch may be left")
    assert(SnapshotTable.currentVersion(spark, t) === v)
  }

  test("ALTER COLUMN to the current type is a no-op; two specs on one " +
      "column fail whole; a no-op beside a real widening commits once") {
    import org.apache.spark.sql.types.{IntegerType, LongType}
    import spark.implicits._
    val t = freshTable("widennoop")
    SnapshotTable.create(spark, t,
      Seq((1L, 10), (2L, 20)).toDF("k", "i"), numFiles = 1)
    val mdir = new org.apache.hadoop.fs.Path(t, "_manifests")
    val fsys = mdir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def manifests = fsys.listStatus(mdir).map(_.getPath.getName).toSet
    val v1 = SnapshotTable.currentVersion(spark, t)
    val m1 = manifests
    // same type: no new manifest, the current version comes back
    assert(SnapshotTable.widenColumn(spark, t, "k", LongType) === v1)
    assert(SnapshotTable.widenColumns(spark, t,
      Seq("k" -> LongType, "i" -> IntegerType)) === v1)
    graft.GraftExtensions.register(spark)
    spark.sql(s"""SELECT * FROM graft_dml("ALTER TABLE `$t` ALTER COLUMN """ +
      s"""k TYPE BIGINT")""").head()
    assert(manifests === m1, "a same-type ALTER COLUMN must commit nothing")
    // one column named twice fails whole, even when both are no-ops
    Seq(Seq("i" -> LongType, "i" -> LongType),
      Seq("k" -> LongType, "k" -> LongType)).foreach { specs =>
      intercept[IllegalArgumentException] {
        SnapshotTable.widenColumns(spark, t, specs)
      }
      assert(manifests === m1, s"$specs must commit nothing")
    }
    // a no-op spec plus a real widening: exactly one new version
    assert(SnapshotTable.widenColumns(spark, t,
      Seq("k" -> LongType, "i" -> LongType)) === v1 + 1)
    assert(manifests.size === m1.size + 1)
    val r = SnapshotTable.read(spark, t)
    assert(r.schema("i").dataType === LongType &&
      r.schema("k").dataType === LongType)
    assert(r.orderBy("k").collect().map(x => (x.getLong(0), x.getLong(1)))
      .toSeq === Seq((1L, 10L), (2L, 20L)))
  }
}
