package graft.sources

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{And, AttributeReference, EqualTo, Expression, GreaterThan, GreaterThanOrEqual, In, IsNotNull, IsNull, LessThan, LessThanOrEqual, Literal, Or}
import org.apache.spark.sql.execution.datasources.{FileIndex, HadoopFsRelation, LogicalRelation, PartitionDirectory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.{NumericType, StructType}

/** Catalyst-integrated snapshot scan: a custom [[FileIndex]] whose
  * `listFiles` prunes the snapshot's file list with the MANIFEST's
  * partition labels and column stats when Catalyst pushes data filters
  * down — so `SnapshotTable.scan(spark, t).filter($"k" === 42)` (or the
  * same predicate through `spark.sql` on a registered view) opens only
  * the files that can contain matches, with NO explicit
  * readWhere/readWhereRange call. This is the Delta/Iceberg
  * `TahoeFileIndex` integration shape: scan planning runs on metadata,
  * the parquet reader then applies its own row-group pruning inside the
  * surviving files, and the row-level filter keeps exactness.
  *
  * TWO-TIER metadata: built from a [[SnapshotTable.ScanPlan]] (the
  * version-chain header with the grouped anchor UNRESOLVED), planning
  * first prunes whole partition GROUPS on the anchor's labels and only
  * then reads the surviving groups' file entries — the metadata read is
  * O(matched partitions), not O(table files). File sizes recorded at
  * commit time (`bytes` extras) let the index build FileStatus from
  * the manifest alone, so the planning path performs ZERO filesystem
  * listing for stamped files (the Delta "metadata is the listing"
  * shape); legacy entries fall back to one listStatus per batch dir.
  *
  * Pruning is CONSERVATIVE: only predicate shapes the translator
  * understands can exclude a group or file (equality/range/IN on a
  * column with recorded stats or the partition label, composed with
  * AND/OR); everything else keeps it. Exclusion is therefore always
  * sound — an excluded file provably contains no matching row.
  */
class SnapshotFileIndex private (spark: SparkSession, table: String,
    header: SnapshotTable.Snapshot,
    entriesFor: Option[SnapshotTable.GroupRef => Boolean] =>
      Seq[SnapshotTable.Entry],
    knownSize: Option[Long],
    metaGroupsRead: () => Int, metaBytesRead: () => Long)
    extends FileIndex {

  /** Eager compatibility constructor: a fully-resolved snapshot in
    * hand (branch heads, DV planning, tests) — no group laziness.
    */
  def this(spark: SparkSession, table: String,
      snap: SnapshotTable.Snapshot) =
    this(spark, table, snap,
      admit => snap.entries.filter(e => admit.forall(_(
        SnapshotTable.GroupRef("", e.label, 1, -1L, e.stats)))),
      None, () => -1, () => -1L)

  private val fsys = new Path(table)
    .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** The full entry list — forced only by consumers that genuinely
    * need everything (inputFiles, un-stamped sizeInBytes, unfiltered
    * scans); a filtered `listFiles` never touches it.
    */
  private lazy val allEntries: Seq[SnapshotTable.Entry] =
    entriesFor(None)

  /** Test hooks: how many files the last `listFiles` call planned, and
    * what the metadata-tier read cost (groups/bytes/dir listings) was.
    */
  @volatile var lastPlannedFiles: Int = -1
  @volatile var lastMetaGroupsRead: Int = -1
  @volatile var lastMetaBytesRead: Long = -1L
  @volatile var lastListedDirs: Int = -1

  override def rootPaths: Seq[Path] = Seq(new Path(table))

  override def partitionSchema: StructType = StructType(Nil)

  override def inputFiles: Array[String] =
    statusesFor(allEntries).map(_.getPath.toString).toArray

  override def refresh(): Unit = ()

  override lazy val sizeInBytes: Long = knownSize.getOrElse(
    statusesFor(allEntries).map(_.getLen).sum)

  /** FileStatus per entry: manifest-stamped sizes build synthetic
    * statuses with no filesystem call; un-stamped entries list their
    * batch dirs (one listStatus per DIR, never per-file RPCs — at
    * production file counts the per-file round trip is the metadata
    * bottleneck, and the dir listing matches object-store batching).
    */
  private def statusesFor(entries: Seq[SnapshotTable.Entry])
      : Seq[FileStatus] = {
    val qualifiedTable = fsys.makeQualified(new Path(table))
    val (stamped, unstamped) = entries.partition(
      _.extra.get("bytes").exists(v =>
        scala.util.Try(v.toLong).isSuccess))
    val synthetic = stamped.map { e =>
      val len = e.extra("bytes").toLong
      new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L,
        new Path(qualifiedTable, e.path))
    }
    val listed: Seq[FileStatus] =
      if (unstamped.isEmpty) { lastListedDirs = 0; Nil }
      else {
        val byDir = unstamped.map(_.path)
          .groupBy(r => r.split('/').dropRight(1).mkString("/"))
        lastListedDirs = byDir.size
        val found: Map[String, FileStatus] = byDir.keys.flatMap { dir =>
          fsys.listStatus(new Path(table, dir)).iterator
            .filter(_.isFile)
            .map(st => s"$dir/${st.getPath.getName}" -> st)
        }.toMap
        unstamped.map(e => found(e.path))
      }
    synthetic ++ listed
  }

  override def listFiles(partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    // group-level admission first: a group every filter may match —
    // on its partition label AND its per-group column bounds (the
    // cluster-range / partitioned-stats tier) — groups provably
    // excluded are never even READ. Synthetic cluster-chunk labels
    // (#batch#i) are group identity, not partition values — masked.
    val admit: Option[SnapshotTable.GroupRef => Boolean] =
      if (dataFilters.isEmpty) None
      else Some { g =>
        val asEntry = SnapshotTable.Entry("",
          g.label.filterNot(_.startsWith("#")), g.stats)
        dataFilters.forall(e => mayMatch(asEntry, e))
      }
    val entries = entriesFor(admit)
    lastMetaGroupsRead = metaGroupsRead()
    lastMetaBytesRead = metaBytesRead()
    val kept = entries.filter(e =>
      dataFilters.forall(expr => mayMatch(e, expr)))
    lastPlannedFiles = kept.size
    Seq(PartitionDirectory(InternalRow.empty,
      statusesFor(kept).toArray))
  }

  private val layout = TableLayout.of(header)
  private val pcols = layout.partitionCols

  /** Can `entry` possibly hold a row satisfying `e`? (false only on a
    * provable exclusion.)
    */
  private def mayMatch(entry: SnapshotTable.Entry,
      e: Expression): Boolean = e match {
    case And(l, r) => mayMatch(entry, l) && mayMatch(entry, r)
    case Or(l, r) => mayMatch(entry, l) || mayMatch(entry, r)
    case EqualTo(a: AttributeReference, l: Literal) =>
      boundsAdmit(entry, a.name, l, lo = true, hi = true)
    case EqualTo(l: Literal, a: AttributeReference) =>
      boundsAdmit(entry, a.name, l, lo = true, hi = true)
    case GreaterThan(a: AttributeReference, l: Literal) =>
      boundsAdmit(entry, a.name, l, lo = true, hi = false)
    case GreaterThanOrEqual(a: AttributeReference, l: Literal) =>
      boundsAdmit(entry, a.name, l, lo = true, hi = false)
    case LessThan(a: AttributeReference, l: Literal) =>
      boundsAdmit(entry, a.name, l, lo = false, hi = true)
    case LessThanOrEqual(a: AttributeReference, l: Literal) =>
      boundsAdmit(entry, a.name, l, lo = false, hi = true)
    case GreaterThan(l: Literal, a: AttributeReference) =>
      boundsAdmit(entry, a.name, l, lo = false, hi = true)
    case GreaterThanOrEqual(l: Literal, a: AttributeReference) =>
      boundsAdmit(entry, a.name, l, lo = false, hi = true)
    case LessThan(l: Literal, a: AttributeReference) =>
      boundsAdmit(entry, a.name, l, lo = true, hi = false)
    case LessThanOrEqual(l: Literal, a: AttributeReference) =>
      boundsAdmit(entry, a.name, l, lo = true, hi = false)
    case In(a: AttributeReference, vs)
        if vs.forall(_.isInstanceOf[Literal]) =>
      vs.exists(v => boundsAdmit(entry, a.name,
        v.asInstanceOf[Literal], lo = true, hi = true))
    // per-file row/null counts (manifest `x=` attributes) prove a file
    // all-null or null-free — unknown counts keep the file (soundness)
    case IsNotNull(a: AttributeReference) =>
      (extraLong(entry, "rows"),
        extraLong(entry, s"nulls.${a.name}")) match {
        case (Some(rows), Some(nulls)) => nulls < rows
        case _ => true
      }
    case IsNull(a: AttributeReference) =>
      extraLong(entry, s"nulls.${a.name}") match {
        case Some(nulls) => nulls > 0
        case _ => true
      }
    case _ => true
  }

  private def extraLong(entry: SnapshotTable.Entry,
      key: String): Option[Long] =
    entry.extra.get(key)
      .flatMap(v => scala.util.Try(v.toLong).toOption)

  /** The partition-position admission shared by the group- and
    * file-level checks: does the label tuple admit the literal under
    * the column's transforms? `lo`: the predicate needs rows ≥
    * literal, `hi`: rows ≤ literal; EqualTo checks both. Returns true
    * (keep) unless every transform position sourcing `column` proves
    * exclusion... any single position's veto excludes.
    */
  private def labelAdmits(label: String, column: String, l: Literal,
      lo: Boolean, hi: Boolean): Boolean = {
    val v = render(l)
    if (v == null) return true
    if (!pcols.contains(column)) return true
    val vals = layout.valuesOf(label)
    var pi = 0
    while (pi < pcols.length) {
      if (pcols(pi) == column) {
        vals.lift(pi).foreach { lab =>
          if (!positionAdmits(lab, pi, l, v, lo, hi)) return false
        }
      }
      pi += 1
    }
    true
  }

  /** One transform position's verdict on (label value, literal). */
  private def positionAdmits(label: String, pi: Int, l: Literal,
      v: String, lo: Boolean, hi: Boolean): Boolean = {
    layout.partitions.lift(pi) match {
      case Some(t) if !t.isIdentity =>
        t.applyLiteral(l) match {
          case Some(tl) =>
            def cmpLe(x: String, y: String): Boolean =
              if (t.numericLabel)
                try BigDecimal(x) <= BigDecimal(y)
                catch { case _: NumberFormatException => true }
              else SnapshotTable.codePointLe(x, y)
            if (lo && hi) label == tl
            else if (t.monotonic)
              (!lo || cmpLe(tl, label)) && (!hi || cmpLe(label, tl))
            else true // non-monotonic (bucket) range: no verdict
          case None => true
        }
      case _ =>
        // identity: exact-equality pruning — but the literal must
        // render in the SAME domain the label was derived in. Labels
        // come from cast-to-string at staging; render() emits epoch
        // MICROS for TimestampType, so comparing cross-domain would
        // silently exclude every matching file. Catalyst's Cast in the
        // zone staging derived labels under — the manifest's PINNED
        // staging zone (stageFor refuses writes from any other zone),
        // falling back to the session zone for pre-pin tables — IS the
        // staging derivation.
        if (lo && hi) {
          val lv =
            if (l.dataType == org.apache.spark.sql.types.TimestampType)
              org.apache.spark.sql.catalyst.expressions.Cast(l,
                org.apache.spark.sql.types.StringType,
                Some(header.meta.getOrElse("stagingTz",
                  org.apache.spark.sql.internal.SQLConf.get
                    .sessionLocalTimeZone))).eval() match {
                case null => null
                case s => s.toString
              }
            else v
          if (lv != null) label == lv else true
        } else true // identity range pruning is handled by file stats
    }
  }

  /** `lo`: the predicate needs rows with value ≥ literal to exist, so
    * the file admits it iff literal ≤ max; `hi`: needs value ≤ literal,
    * so literal ≥ min must hold. EqualTo checks both sides.
    * Exact partition value beats range stats for ANY partition column
    * (multi-column tables carry the full value tuple per file, so a
    * predicate on the second column prunes as well as the first —
    * subset pruning, not Hive's prefix-only trie walk). Hidden
    * partitioning prunes the RAW-column predicate THROUGH the
    * transform; see [[labelAdmits]].
    */
  private def boundsAdmit(entry: SnapshotTable.Entry, column: String,
      l: Literal, lo: Boolean, hi: Boolean): Boolean = {
    val v = render(l)
    if (v == null) return true
    entry.label.foreach { label =>
      if (pcols.contains(column) &&
          !labelAdmits(label, column, l, lo, hi)) return false
      // identity range over the label: the original per-file path also
      // admitted ranges via stats below, which remain authoritative
    }
    entry.stats.get(column) match {
      case Some((mn, mx)) =>
        // TIMESTAMP stats are recorded as epoch micros, so they compare
        // numerically like any numeric column
        val numeric = header.schema.fieldNames.contains(column) &&
          (header.schema(column).dataType.isInstanceOf[NumericType] ||
            header.schema(column).dataType ==
              org.apache.spark.sql.types.TimestampType)
        // unparseable numeric repr -> no exclusion (soundness first);
        // string compare is by CODE POINT — the order UTF8String's
        // min/max recorded the stats under (Java's UTF-16 <= disagrees
        // for supplementary chars vs U+E000..U+FFFF and would silently
        // exclude matching files)
        def le(x: String, y: String): Boolean =
          if (numeric)
            try BigDecimal(x) <= BigDecimal(y)
            catch { case _: NumberFormatException => true }
          else SnapshotTable.codePointLe(x, y)
        (!hi || le(mn, v)) && (!lo || le(v, mx))
      case None => true
    }
  }

  /** The literal as the STRING `computeStats`/partition labels record
    * (Spark's cast-to-string rendering). Types whose internal Catalyst
    * value does not stringify to that form must either convert
    * faithfully (DateType: epoch days → ISO local date, which also
    * compares correctly lexicographically; TimestampType: the Catalyst
    * value IS epoch micros, exactly what the stats record — zone-free
    * on both sides) or return null = UNPRUNABLE (TimestampNTZ —
    * soundness before pruning). A mismatch here silently EXCLUDES
    * matching files, the worst failure mode a skipping layer can have.
    */
  private def render(l: Literal): String = (l.value, l.dataType) match {
    case (null, _) => null
    case (days: Integer, org.apache.spark.sql.types.DateType) =>
      java.time.LocalDate.ofEpochDay(days.longValue).toString
    case (micros: java.lang.Long, org.apache.spark.sql.types.TimestampType) =>
      micros.toString
    case (_, org.apache.spark.sql.types.TimestampType) => null
    case (_, org.apache.spark.sql.types.TimestampNTZType) => null
    case (u: org.apache.spark.unsafe.types.UTF8String, _) => u.toString
    case (other, _) => other.toString
  }
}

object SnapshotFileIndex {

  /** The TWO-TIER planning constructor: group entries materialize
    * lazily per query, label-pruned — metadata IO ∝ matched
    * partitions.
    */
  private[sources] def lazily(spark: SparkSession, table: String,
      plan: SnapshotTable.ScanPlan): SnapshotFileIndex =
    new SnapshotFileIndex(spark, table, plan.header,
      admit => plan.entries(admit), plan.knownSizeInBytes,
      () => plan.lastGroupsRead, () => plan.lastGroupBytesRead)
}

object SnapshotScan {

  /** The Catalyst-planned snapshot read: filters on this frame (or on a
    * view registered from it) prune files through the manifest
    * automatically. Pins the CURRENT snapshot at call time, like
    * [[SnapshotTable.read]]. Planning is metadata-tier lazy: a grouped
    * (two-tier) manifest's file entries load per query, label-pruned.
    */
  def scan(spark: SparkSession, table: String,
      version: Option[Long] = None): (DataFrame, SnapshotFileIndex) = {
    val v = version.getOrElse(SnapshotTable.currentVersion(spark, table))
    val plan = SnapshotTable.scanPlanAt(spark, table, v)
    val header = plan.header
    // fail honestly rather than resurrect vector-deleted rows: the raw
    // FileIndex relation has no seam for the DV anti join — compact()
    // purges the vectors, after which the Catalyst scan is exact again
    require(header.deleteFiles.isEmpty,
      s"$table v${header.version} carries deletion vectors; read it via " +
        "SnapshotTable.read (DV-applying) or compact() to purge them")
    // same honesty rule for column mapping: the raw FileIndex scan
    // reads by CURRENT names only, so files written before a rename
    // would read the column as NULL — silently wrong. compact()
    // rewrites under current names, after which the mapping clears.
    require(SnapshotTable.colMapOf(header).isEmpty,
      s"$table v${header.version} carries renamed columns; read it via " +
        "SnapshotTable.read (mapping-aware) or compact() to rewrite " +
        "under the current names")
    // and for initial-defaults: files predating an ADD COLUMN DEFAULT
    // must read the default, which only the frame-level read applies —
    // compact() materializes it, after which this scan is exact again
    require(!plan.liveDefaults,
      s"$table v${header.version} has files predating a column DEFAULT; " +
        "read it via SnapshotTable.read (default-applying) or " +
        "compact() to materialize the defaults")
    val index = SnapshotFileIndex.lazily(spark, table, plan)
    val relation = HadoopFsRelation(
      location = index,
      partitionSchema = StructType(Nil),
      // MV maintained-state columns stay hidden on this surface too
      dataSchema = SnapshotTable.visibleSchema(header),
      // declared bucket layout rides the relation: the v1 bucketed
      // scan groups the tagged files by bucket id and reports hash
      // output partitioning — equal-bucketed graft tables then join
      // with no exchange on either side
      bucketSpec = TableLayout.of(header).buckets,
      fileFormat = new ParquetFileFormat,
      options = Map.empty)(spark)
    (GraftShim.ofRows(spark, LogicalRelation(relation, isStreaming = false)),
      index)
  }
}
