package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._
import graft.Tables
import graft.sources.SnapshotTable

/** Writers committing to snapshot tables, with readers beside them. Three
  * layouts (plain, partitioned by `st`, clustered by `k`) start from the
  * corpus's `orders` rows; the loop then runs rounds of 28 small-batch
  * writes and 28 reads (see `nextRound`). Every
  * read, and the final contents, must equal an in-driver model of the
  * same ops.
  *
  * The batch shapes are those of the engine's registered table queries
  * (`q_table_*` in `SnapshotTable`), with the residue drawn from the
  * seed: an append adds 1% of the table as new keys (`% 100`);
  * `updateWhere` and `updateWhereVector` touch `k % 100 == r`;
  * `deleteWhere` and `deleteWhereVector` remove `k % 17 == r`; a merge
  * rewrites `k % 50 == r` and inserts 0.1% new keys (`% 1000`); a range
  * read spans 1,001 keys (`q_table_skipping`); `expireSnapshots` keeps
  * the last 2 versions, as `maintain` does by default.
  */
final class TableLifecycle(a: Args, rng: scala.util.Random, stats: Stats)
    extends Workload {
  import TableLifecycle._

  private val appendEvery = 100
  private val updateMod = 100
  private val deleteMod = 17
  private val mergeUpdateMod = 50
  private val mergeInsertEvery = 1000
  private val rangeWidth = 1001L
  private val keepVersions = 2
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("c", LongType),
    StructField("st", StringType), StructField("p", DoubleType),
    StructField("pr", StringType)))

  private var spark: SparkSession = _
  private var tables: IndexedSeq[Model] = IndexedSeq.empty
  private var nextKey = 1000000L
  private var passes = 0
  private val written = mutable.ArrayBuffer.empty[Rec]

  def setup(s: SparkSession, r: Int): Unit = {
    spark = s
    val t0 = System.nanoTime()
    val base = Tables.orders(s, a.data).select(col("o_orderkey").as("k"),
      col("o_custkey").as("c"), col("o_orderstatus").as("st"),
      col("o_totalprice").as("p"), col("o_orderpriority").as("pr"))
    val rows = base.collect().map(r =>
      r.getLong(0) -> Rec(r.getLong(0), r.getLong(1), r.getString(2), r.getDouble(3),
        r.getString(4))).toMap
    stats.add("tables.warm_ms", (System.nanoTime() - t0) / 1e6)
    val root = s"${a.work}/table_lifecycle/setup$r"
    Files.rm(root)
    val plain = s"$root/plain"
    val parted = s"$root/partitioned"
    val clustered = s"$root/clustered"
    val v1 = SnapshotTable.create(s, plain, base, numFiles = 8)
    val v2 = SnapshotTable.createPartitioned(s, parted, base, "st")
    val v3 = SnapshotTable.createClustered(s, clustered, base, "k", numFiles = 8)
    tables = IndexedSeq(new Model(plain, v1, rows), new Model(parted, v2, rows),
      new Model(clustered, v3, rows))
    // warm: the first read of each layout, checked like any other
    tables.foreach(m => require(Fingerprint.of(read(m.path, None)) == m.fingerprint(m.version),
      s"setup read ${m.path}"))
  }

  private def read(path: String, v: Option[Long]): DataFrame =
    SnapshotTable.read(spark, path, v)

  private def expect(rows: Iterable[Seq[Any]]): Fingerprint = Fingerprint.ofRows(rows)

  private def same(got: Fingerprint, want: => Fingerprint, corrupt: Boolean): Boolean =
    (if (corrupt) got.corrupted else got) == want

  /** A round is two passes of the same 28 ops in the same order, writes
    * and reads alternating: twice each write verb, once `compact` and
    * once `expire_snapshots`, and fourteen reads; in pass j, op i goes to
    * table (i + j) mod 3. The seed draws their parameters: residues, key
    * ranges, batch rows, past versions.
    */
  def nextRound(): Seq[Op] = pass() ++ pass()

  private def pass(): Seq[Op] = {
    val writes = (writeKinds :+ "compact") ++ (writeKinds :+ "expire_snapshots")
    val j = passes
    passes += 1
    writes.zip(roundReads ++ roundReads).flatMap { case (w, r) => Seq((w, true), (r, false)) }
      .zipWithIndex.map { case ((k, write), i) =>
        val m = tables((i + j) % tables.size)
        if (write) writeOp(k, m) else readOp(k, m)
      }
  }

  private def residue(m: Model, mod: Int): Long = {
    val r = rng.nextInt(mod).toLong
    stats.note(s"${m.path} % $mod == $r")
    r
  }

  private def keyRange(m: Model): (Long, Long) = {
    val keys = m.current.keysIterator.toIndexedSeq
    val lo = keys(rng.nextInt(keys.size))
    stats.note(s"${m.path} $lo")
    (lo, lo + rangeWidth - 1)
  }

  private def freshRecs(n: Int): Seq[Rec] = (0 until n).map { _ => nextKey += 1; newRec(nextKey) }

  private def newRec(k: Long) = Rec(k, rng.nextInt(1500).toLong,
    statuses(rng.nextInt(3)), math.round(rng.nextDouble() * 5e7) / 100.0,
    priorities(rng.nextInt(5)))

  private def frame(recs: Seq[Rec]): DataFrame =
    spark.createDataFrame(java.util.Arrays.asList(
      recs.map(r => Row(r.k, r.c, r.st, r.p, r.pr)): _*), schema)

  private def writeOp(kind: String, m: Model): Op =
    Op(kind, "commit", (timed, corrupt) => {
      val before = if (a.trace) Files.list(m.path) else Map.empty[String, Long]
      def hitting(mod: Int) = {
        val r = residue(m, mod)
        (m.current.filter { case (k, _) => k % mod == r }, col("k") % mod === r)
      }
      val (version, next, logical) = kind match {
        case "append" =>
          val recs = freshRecs(m.current.size / appendEvery)
          stats.add("rows", recs.size)
          (timed(SnapshotTable.append(spark, m.path, frame(recs))),
            m.current ++ recs.map(r => r.k -> r), recs)
        case "merge_into" =>
          val r = residue(m, mergeUpdateMod)
          val old = m.current.keysIterator.filter(_ % mergeUpdateMod == r).toSeq.sorted
            .map(newRec)
          val recs = old ++ freshRecs(m.current.size / mergeInsertEvery)
          stats.add("rows", recs.size)
          (timed(SnapshotTable.mergeInto(spark, m.path, frame(recs), "k"))._1,
            m.current ++ recs.map(r => r.k -> r), recs)
        case "update_where" | "update_where_vector" =>
          val (hit, pred) = hitting(updateMod)
          val (v, changed) =
            if (kind == "update_where")
              (timed(SnapshotTable.updateWhere(spark, m.path, pred,
                Map("p" -> (col("p") + lit(1.0)))))._1,
                hit.map { case (k, r) => k -> r.copy(p = r.p + 1.0) })
            else
              (timed(SnapshotTable.updateWhereVector(spark, m.path, pred,
                Map("c" -> (col("c") + lit(1L)))))._1,
                hit.map { case (k, r) => k -> r.copy(c = r.c + 1) })
          stats.add("rows", changed.size)
          (v, m.current ++ changed, changed.values.toSeq)
        case "delete_where" | "delete_where_vector" =>
          val (hit, pred) = hitting(deleteMod)
          val v =
            if (kind == "delete_where") timed(SnapshotTable.deleteWhere(spark, m.path, pred))._1
            else timed(SnapshotTable.deleteWhereVector(spark, m.path, pred))._1
          (v, m.current -- hit.keys, Nil)
        case "compact" =>
          (timed(SnapshotTable.compact(spark, m.path))._1, m.current, Nil)
        case "expire_snapshots" =>
          timed(SnapshotTable.expireSnapshots(spark, m.path, keepLast = keepVersions))
          m.expire(keepVersions)
          (m.version, m.current, Nil)
      }
      stats.add(s"sources.commit_ms.$kind", timed.ms)
      written ++= logical
      m.commit(version, next)
      if (a.trace) {
        val after = Files.list(m.path)
        val added = after.keySet -- before.keySet
        stats.add("sources.files_added", added.size)
        stats.add("sources.bytes_added", added.toSeq.map(after).sum.toDouble)
      }
      // a commit's result is checked by the reads that follow it and by
      // the final check; an injected wrong result fails the commit itself
      !corrupt
    })

  /** Builds a read and runs it to its full result, both timed. */
  private def runRead(timed: Timer, build: => DataFrame): DataFrame = {
    val df = timed(build)
    timed(Full.run(df))
    df
  }

  /** Fingerprints a read's result in an untimed, uncounted second pass. */
  private def check(df: DataFrame, want: => Fingerprint, corrupt: Boolean): Boolean =
    same(Counters.excluding(Fingerprint.of(df)), want, corrupt)

  private def readOp(kind: String, m: Model): Op =
    Op(kind, "read", (timed, corrupt) => {
      val ok = kind match {
        case "current" =>
          check(runRead(timed, read(m.path, None)), m.fingerprint(m.version), corrupt)
        case "range" =>
          val (lo, hi) = keyRange(m)
          val df = runRead(timed, SnapshotTable.readWhereRange(spark, m.path, "k", lo, hi))
          // skipping counts live data files only: a scan's input files
          // also hold the deletion-vector files it applies
          if (a.trace) Counters.excluding {
            val live = SnapshotTable.filesOf(spark, m.path).select("file").collect()
              .map(_.getString(0))
            val scanned = df.inputFiles.count(u => live.exists(f => u.endsWith("/" + f)))
            stats.add("sources.skip_ratio", 1.0 - scanned / math.max(1.0, live.length))
          }
          check(df.filter(col("k").between(lo, hi)),
            expect(vals(m.current.filter { case (k, _) => k >= lo && k <= hi })), corrupt)
        case "version" =>
          val v = m.pastVersion(rng)
          check(runRead(timed, read(m.path, Some(v))), m.fingerprint(v), corrupt)
        case "changes" =>
          val v = m.pastVersion(rng)
          check(runRead(timed, SnapshotTable.changesBetween(spark, m.path, v, m.version)),
            expect(m.changes(v, m.version)), corrupt)
      }
      stats.add(s"sources.read_ms.$kind", timed.ms)
      ok
    })

  def finish(): Boolean = {
    val ok = tables.forall(m => Fingerprint.of(read(m.path, None)) == m.fingerprint(m.version))
    if (a.trace) {
      // manifest loads are timed after the window, for every version the
      // tables still retain, so that they warm nothing the window reads
      for (m <- tables; v <- m.retainedVersions) {
        val t = System.nanoTime()
        SnapshotTable.readManifest(spark, m.path, v)
        stats.add("sources.manifest_load_ms", (System.nanoTime() - t) / 1e6)
      }
      stats.add("sources.live_files", tables.map(m =>
        SnapshotTable.filesOf(spark, m.path).count()).sum.toDouble / tables.size)
      val plainDir = s"${a.work}/table_lifecycle/plain"
      stats.add("plain_written_bytes",
        Files.plainBytes(frame(written.toSeq), s"$plainDir/written"))
      stats.add("plain_final_bytes", tables.zipWithIndex.map { case (m, i) =>
        Files.plainBytes(frame(m.current.values.toSeq), s"$plainDir/final$i")
      }.sum)
      stats.add("live_bytes", tables.map(m => Files.list(m.path).values.sum).sum.toDouble)
    }
    ok
  }

  override def layerMetrics(ops: Int): Map[String, Double] = {
    val commits = stats.count("sources.files_added").toDouble.max(1.0)
    (writeKinds :+ "compact" :+ "expire_snapshots").map(k =>
      s"sources.commit_ms.$k" -> stats.mean(s"sources.commit_ms.$k")).toMap ++
    readKinds.map(k => s"sources.read_ms.$k" -> stats.mean(s"sources.read_ms.$k")) ++
    Map(
      "sources.manifest_load_ms" -> stats.mean("sources.manifest_load_ms"),
      "sources.skip_ratio" -> stats.mean("sources.skip_ratio"),
      "sources.files_added_per_commit" -> stats.sum("sources.files_added") / commits,
      "sources.bytes_added_per_commit" -> stats.sum("sources.bytes_added") / commits,
      "sources.live_files" -> stats.mean("sources.live_files"))
  }

  override def info: Map[String, Any] = Map(
    "layouts" -> Seq("plain", "partitioned(st)", "clustered(k)"),
    "passes" -> passes, "keep_versions" -> keepVersions,
    "batch_shape" -> Map("append_share" -> 1.0 / appendEvery, "update_mod" -> updateMod,
      "delete_mod" -> deleteMod, "merge_update_mod" -> mergeUpdateMod,
      "merge_insert_share" -> 1.0 / mergeInsertEvery, "range_keys" -> rangeWidth))
}

object TableLifecycle {
  val writeKinds = IndexedSeq("append", "update_where", "delete_where",
    "delete_where_vector", "update_where_vector", "merge_into")
  val readKinds = IndexedSeq("current", "range", "version", "changes")
  val roundReads = IndexedSeq("current", "current", "range", "range", "version",
    "version", "changes")
  val statuses = IndexedSeq("F", "O", "P")
  val priorities = IndexedSeq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  /** One row of the tables: key, customer, status, price, priority. */
  final case class Rec(k: Long, c: Long, st: String, p: Double, pr: String) {
    /** Values in column-name order (c, k, p, pr, st), as fingerprinted. */
    def values: Seq[Any] = Seq(c, k, p, pr, st)
  }

  /** The in-driver model of one table: its contents at every version
    * that is still readable.
    */
  final class Model(val path: String, v0: Long, rows: Map[Long, Rec]) {
    private val history = mutable.LinkedHashMap(v0 -> rows)
    private var retained = Vector(v0)
    def version: Long = retained.last
    def current: Map[Long, Rec] = history(version)
    def commit(v: Long, next: Map[Long, Rec]): Unit =
      if (v != version) { history(v) = next; retained :+= v }
      else require(next == current, s"$path: rows changed but version $v did not")
    def expire(keep: Int): Unit = {
      retained.dropRight(keep).foreach(history.remove)
      retained = retained.takeRight(keep)
    }
    def pastVersion(rng: scala.util.Random): Long =
      if (retained.size < 2) version else retained(rng.nextInt(retained.size - 1))
    private val fingerprints = mutable.Map.empty[Long, Fingerprint]
    /** The expected fingerprint of version `v`, computed once. */
    def fingerprint(v: Long): Fingerprint =
      fingerprints.getOrElseUpdate(v, Fingerprint.ofRows(vals(history(v))))
    def retainedVersions: Seq[Long] = retained
    /** Net changes from `from` to `to`, tagged like `changesBetween`
      * (its `change_type` column sorts between `c` and `k`).
      */
    def changes(from: Long, to: Long): Seq[Seq[Any]] = {
      val a = history(from).values.toSet
      val b = history(to).values.toSet
      def tagged(t: String, r: Rec): Seq[Any] = Seq(r.c, t, r.k, r.p, r.pr, r.st)
      (b -- a).toSeq.map(tagged("insert", _)) ++ (a -- b).toSeq.map(tagged("delete", _))
    }
  }

  def vals(m: Map[Long, Rec]): Iterable[Seq[Any]] = m.values.map(_.values)
}
