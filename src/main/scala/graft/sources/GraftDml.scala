package graft.sources

import org.apache.spark.sql.{DataFrame, GraftShim, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedAttribute, UnresolvedRelation}
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedTable}
import org.apache.spark.sql.catalyst.plans.logical.{AddCheckConstraint, Assignment, CreateTableAsSelect, DeleteFromTable, DropConstraint, DropTable, InsertIntoStatement, InsertStarAction, LogicalPlan, MergeIntoTable, SubqueryAlias, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{LongType, StringType}

/** SQL DML on snapshot tables — the mutation surface reachable from
  * `spark.sql`, closing the gap where the READ path was first-class SQL
  * (the `graft_snapshot`/`graft_changes` TVFs) but every WRITE verb was
  * Scala-API only. The reference's entire mutation surface is SQL
  * strings (database.py:18-41, 66-71); a warehouse user's first
  * instinct is `UPDATE t SET ... WHERE ...`, and this module accepts
  * exactly that grammar — SPARK'S OWN parser produces the
  * `UpdateTable`/`DeleteFromTable`/`MergeIntoTable` logical plans and
  * this module lowers them onto the file-granular snapshot verbs
  * ([[SnapshotTable.updateWhere]]/[[SnapshotTable.deleteWhere]]/
  * [[SnapshotTable.mergeInto]]), inheriting their IO ∝ churn and
  * atomic-commit properties.
  *
  * Two routes to the same lowering:
  *
  *   - `graft_dml('<statement>')` — a runtime-registered procedure TVF
  *     (works on a PLAIN session after `GraftExtensions.register`):
  *     {{{
  *     SELECT * FROM graft_dml("UPDATE `/path/to/t` SET c = c + 1 WHERE k % 2 = 0")
  *     }}}
  *     The statement executes when `spark.sql` analyzes the call (the
  *     procedure convention the snapshot TVFs established) and the call
  *     returns one row: (verb, version, rows_affected, files_rewritten).
  *
  *   - native `UPDATE`/`DELETE`/`MERGE INTO` statements on a session
  *     built with `spark.sql.extensions=graft.GraftExtensions`: a
  *     resolution rule intercepts the parsed DML whose target is a
  *     snapshot-table PATH (backquoted identifier) and replaces it with
  *     a [[SnapshotDmlCommand]] that `spark.sql` executes eagerly like
  *     every other command, returning the same one-row result.
  *
  * Supported grammar (everything else raises a clear error):
  *   - `CREATE TABLE <t> [PARTITIONED BY (col)] [IF NOT EXISTS]
  *      AS <query>` — lowers to [[SnapshotTable.create]] /
  *     [[SnapshotTable.createPartitioned]] (the reference's
  *     `create_table`, tables.py DDL); `USING`/`TBLPROPERTIES` clauses
  *     are ignored — snapshot tables ARE parquet + manifests.
  *   - `DROP TABLE [IF EXISTS] <t>` — removes the table tree; refuses
  *     a path that is not a snapshot table (the `_manifests` marker is
  *     the guard against deleting arbitrary directories).
  *   - `ALTER TABLE <t> ADD CONSTRAINT <name> CHECK (<cond>)` /
  *     `ALTER TABLE <t> DROP CONSTRAINT <name>` — lowers to
  *     [[SnapshotTable.addConstraint]]/[[SnapshotTable.dropConstraint]]
  *     (existing data validated at add time; every later mutation
  *     enforces the predicate on its staged batch).
  *   - `INSERT INTO <t> [(col[, ...])] <query|VALUES ...>` — lowers to
  *     the atomic [[SnapshotTable.append]]; columns align positionally
  *     (or through the explicit column list) and cast to the table
  *     schema, the reference's `add_to_table` verb (database.py:18-31).
  *     `INSERT OVERWRITE <t> <query>` lowers to the atomic whole-table
  *     [[SnapshotTable.replaceContents]] (old version stays
  *     time-travelable). Static `PARTITION` specs are rejected —
  *     partitioned snapshot tables label files from row values.
  *   - `UPDATE <t> SET col = expr[, ...] [WHERE <cond>]` — unqualified
  *     column references (the target is a path, not an aliased view)
  *   - `DELETE FROM <t> [WHERE <cond>]`
  *   - `MERGE INTO <t> [AS a] USING <source> [AS b] ON <a.k = b.k
  *     [AND ...]>` with the FULL Delta clause surface: conditional
  *     `WHEN MATCHED [AND cond] THEN UPDATE SET &lowast;/col = expr | DELETE`,
  *     `WHEN NOT MATCHED [AND cond] THEN INSERT &lowast;/(<cols>) VALUES ...`,
  *     `WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE SET/DELETE`
  *     — lowered onto [[SnapshotTable.mergeIntoFull]] (file-granular,
  *     one simultaneous select per touched file, Delta clause
  *     precedence + cardinality rule); `<source>` may be any
  *     resolvable relation (temp view, subquery, `parquet.`-style path)
  *
  * Targets may be snapshot-table PATHS (backquoted) or CATALOG NAMES
  * registered through `CREATE TABLE name USING graft LOCATION ...`
  * ([[GraftDataSource]]); named targets are intercepted at parse time.
  */
object GraftDml {

  /** Is `parts` a snapshot-table path target: a single path-shaped
    * identifier whose `_manifests` dir exists?
    */
  private[graft] def snapshotPathOf(spark: SparkSession,
      parts: Seq[String]): Option[String] = parts match {
    case Seq(p) if p.contains('/') =>
      try {
        val dir = new org.apache.hadoop.fs.Path(p, "_manifests")
        val f = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (f.exists(dir)) Some(p) else None
      } catch {
        // only not-a-usable-path classes mean "not a snapshot table";
        // a transient IO/permission failure must PROPAGATE — silently
        // rerouting a genuine snapshot UPDATE to Spark's own resolution
        // would surface as a misleading TABLE_OR_VIEW_NOT_FOUND
        case _: IllegalArgumentException => None
        case _: java.io.FileNotFoundException => None
      }
    case _ => None
  }

  private def unwrap(plan: LogicalPlan): LogicalPlan = plan match {
    case SubqueryAlias(_, child) => unwrap(child)
    case other => other
  }

  /** THE align-by-name discipline every write surface shares (SQL
    * INSERT BY NAME / column-list, the DataFrameWriter): resolve the
    * frame's columns against `schema` case-insensitively, CAST each to
    * its declared type (an uncast drift would stage parquet the
    * schema'd reader cannot open or silently NULL-fills), error on
    * duplicates and unknown names. `allowSubset`: omitted NULLABLE
    * columns fill with typed NULLs (the SQL-standard/Delta column-list
    * rule); otherwise every table column must be present (the writer
    * rule — a positionally-built frame with a missing column is more
    * likely a bug than an intentional projection).
    */
  private[sources] def alignByName(df: DataFrame,
      schema: org.apache.spark.sql.types.StructType, what: String,
      allowSubset: Boolean,
      defaults: Map[String, String] = Map.empty): DataFrame = {
    import org.apache.spark.sql.functions.{col, expr, lit}
    val srcLower = df.columns.map(_.toLowerCase)
    require(srcLower.distinct.length == srcLower.length,
      s"$what repeats a column (${df.columns.mkString(", ")})")
    val known = schema.fieldNames.map(_.toLowerCase).toSet
    val unknown = srcLower.filterNot(known)
    require(unknown.isEmpty,
      s"$what names unknown columns: ${unknown.mkString(", ")} " +
        s"(table: ${schema.fieldNames.mkString(", ")})")
    if (allowSubset) {
      val omittedNonNull = schema.filter(f =>
        !f.nullable && !srcLower.contains(f.name.toLowerCase))
      require(omittedNonNull.isEmpty,
        s"$what omits non-nullable columns: " +
          omittedNonNull.map(_.name).mkString(", "))
    } else {
      val missing = schema.fieldNames
        .filterNot(n => srcLower.contains(n.toLowerCase))
      require(missing.isEmpty,
        s"$what is missing table columns: ${missing.mkString(", ")}")
    }
    val byLower = df.columns.map(n => n.toLowerCase -> n).toMap
    // omitted columns fill with their declared write-default when one
    // exists (Delta/Iceberg write-default), typed NULL otherwise; an
    // EXPLICIT NULL in the source is a supplied value and stays NULL
    val defByLower = defaults.map { case (k, v) => k.toLowerCase -> v }
    df.select(schema.map { f =>
      byLower.get(f.name.toLowerCase) match {
        case Some(src) => col(s"`$src`").cast(f.dataType).as(f.name)
        case None => defByLower.get(f.name.toLowerCase) match {
          case Some(d) => expr(d).cast(f.dataType).as(f.name)
          case None => lit(null).cast(f.dataType).as(f.name)
        }
      }
    }.toIndexedSeq: _*)
  }

  /** A catalog location URI as the path string the snapshot verbs use:
    * local-FS locations stay plain paths (manifest-relative keys are
    * scheme-free, and `/tmp/t` == `file:/tmp/t` must be ONE table).
    */
  private def pathString(u: java.net.URI): String =
    if (u.getScheme == null || u.getScheme.equalsIgnoreCase("file"))
      u.getPath
    else u.toString

  private def identOf(parts: Seq[String])
      : Option[org.apache.spark.sql.catalyst.TableIdentifier] =
    parts match {
      case Seq(t) if !t.contains('/') =>
        Some(org.apache.spark.sql.catalyst.TableIdentifier(t))
      case Seq(db, t) =>
        Some(org.apache.spark.sql.catalyst.TableIdentifier(t, Some(db)))
      case Seq(cat, db, t) if cat.equalsIgnoreCase("spark_catalog") =>
        Some(org.apache.spark.sql.catalyst
          .TableIdentifier(t, Some(db), Some(cat)))
      case _ => None
    }

  /** Is `parts` a CATALOG-NAMED graft table (`CREATE TABLE name USING
    * graft LOCATION ...`)? Returns its snapshot path + identifier. The
    * provider check keeps non-graft named tables on Spark's own
    * resolution path.
    */
  private[graft] def namedGraftTable(spark: SparkSession,
      parts: Seq[String]): Option[(String,
        org.apache.spark.sql.catalyst.TableIdentifier)] =
    identOf(parts).flatMap { id =>
      val cat = GraftShim.v1Catalog(spark)
      try {
        // temp views SHADOW catalog tables in every other resolution
        // path; intercepting through the shadow would mutate a table
        // the query no longer names
        if (cat.isTempView(parts)) None
        else if (!cat.tableExists(id)) None
        else {
          val meta = cat.getTableMetadata(id)
          if (meta.provider.exists(_.equalsIgnoreCase("graft")))
            Some((pathString(meta.location), id))
          else None
        }
      } catch {
        // temp views shadow, dropped dbs race — either means "not a
        // resolvable named graft table", never an analysis abort
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchDatabaseException =>
          None
        case _: org.apache.spark.sql.catalyst.analysis.NoSuchTableException =>
          None
      }
    }

  private def graftCatalogTable(
      meta: org.apache.spark.sql.catalyst.catalog.CatalogTable)
      : Option[String] =
    if (meta.provider.exists(_.equalsIgnoreCase("graft")))
      Some(pathString(meta.location))
    else None

  /** The snapshot path behind a DML target, whatever resolution stage
    * the analyzer has carried it to when the interception rule fires:
    * a backquoted PATH identifier (pre-resolution), a NAMED identifier
    * the catalog maps to provider=graft (pre-resolution),
    * the catalog relation stub (mid-resolution), or the fully resolved
    * v1 LogicalRelation (post-FindDataSourceTable — the common case,
    * since the built-in rules run first in the batch).
    */
  private[graft] def targetPath(spark: SparkSession,
      target: LogicalPlan): Option[String] = unwrap(target) match {
    case UnresolvedRelation(parts, _, _) =>
      snapshotPathOf(spark, parts)
        .orElse(namedGraftTable(spark, parts).map(_._1))
    case org.apache.spark.sql.catalyst.catalog
        .UnresolvedCatalogRelation(meta, _, _) => graftCatalogTable(meta)
    case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
      lr.catalogTable.flatMap(graftCatalogTable)
    case _ => None
  }

  /** The MUTATION target of a parsed DML statement as a snapshot-table
    * path — the branch-DML procedure's scope check: `graft_branch_dml`
    * runs its statement inside `withBranch(table)`, and the redirect
    * keys on the table path, so a statement naming ANOTHER table (or
    * no resolvable snapshot target at all) would commit to that
    * table's MAIN while the procedure reports success. Only the four
    * data-mutation verbs resolve; DDL shapes return None and the
    * procedure refuses them.
    */
  private[graft] def statementTargetPath(spark: SparkSession,
      parsed: LogicalPlan): Option[String] = parsed match {
    case cmd: SnapshotDmlCommand => statementTargetPath(spark, cmd.parsed)
    case u: UpdateTable => targetPath(spark, u.table)
    case d: DeleteFromTable => targetPath(spark, d.table)
    case m: MergeIntoTable => targetPath(spark, m.targetTable)
    case i: InsertIntoStatement => targetPath(spark, i.table)
    case _ => None
  }

  /** After a mutation through a NAMED target, drop the analyzer's
    * cached relation for that name — FindDataSourceTable caches the
    * resolved (snapshot-pinned) relation per session, so without this
    * the next `SELECT ... FROM name` would read the pre-mutation
    * snapshot.
    */
  private[graft] def refreshNamedTargets(spark: SparkSession,
      parsed: LogicalPlan): Unit = {
    val cat = GraftShim.v1Catalog(spark)
    // the mutated TARGET is not a plan CHILD for every verb
    // (InsertIntoStatement keeps it as a field), so extract explicitly
    val roots: Seq[LogicalPlan] = parsed match {
      case cmd: SnapshotDmlCommand => return refreshNamedTargets(spark,
        cmd.parsed)
      case i: InsertIntoStatement => Seq(i.table)
      case u: UpdateTable => Seq(u.table)
      case d: DeleteFromTable => Seq(d.table)
      case m: MergeIntoTable => Seq(m.targetTable)
      case other => Seq(other)
    }
    roots.flatMap(_.collect { case p => p }).foreach {
      case UnresolvedRelation(parts, _, _) =>
        namedGraftTable(spark, parts).foreach { case (path, id) =>
          cat.refreshTable(id)
          publishCatalogStats(spark, id, path)
        }
      case org.apache.spark.sql.catalyst.catalog
          .UnresolvedCatalogRelation(meta, _, _)
          if meta.provider.exists(_.equalsIgnoreCase("graft")) =>
        cat.refreshTable(meta.identifier)
        publishCatalogStats(spark, meta.identifier,
          pathString(meta.location))
      case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        lr.catalogTable
          .filter(_.provider.exists(_.equalsIgnoreCase("graft")))
          .foreach { m =>
            cat.refreshTable(m.identifier)
            publishCatalogStats(spark, m.identifier,
              pathString(m.location))
          }
      case _ => ()
    }
  }

  /** Manifest-derived [[org.apache.spark.sql.catalyst.catalog
    * .CatalogStatistics]] for a NAMED graft table, pushed into the
    * session catalog after every mutation through the named surface
    * (and on demand via [[analyzeGraftTable]]): `sizeInBytes` from the
    * manifest's batched dir listing, `rowCount` as the sum of the
    * per-file row counts the stats-tracking writer records — exact,
    * zero data IO, and unlike a native ANALYZE it never counts dead
    * versions' files at the table LOCATION. Honesty rules: the row
    * count publishes only when EVERY live file carries one and no
    * deletion vectors are outstanding (a partial or DV-stale count
    * would misrank the CBO's join order instead of helping it).
    * With these stats, CBO join reordering puts the selective graft
    * dimension first with no user hint (PlanAuditSuite-asserted).
    */
  private[graft] def publishCatalogStats(spark: SparkSession,
      id: org.apache.spark.sql.catalyst.TableIdentifier,
      path: String): Unit = try {
    val v = SnapshotTable.currentVersion(spark, path)
    if (v == 0) return
    val snap = SnapshotTable.readManifest(spark, path, v)
    val size = SnapshotTable.dataBytesOf(spark, path, snap)
    val rows =
      if (snap.deleteFiles.nonEmpty) None
      else {
        val per = snap.files.map(f => snap.extraOf.get(f)
          .flatMap(_.get("rows"))
          .flatMap(s => scala.util.Try(s.toLong).toOption))
        if (per.nonEmpty && per.forall(_.isDefined))
          Some(BigInt(per.flatten.sum))
        else None
      }
    // per-column stats (min/max/nulls/NDV-by-sketch-union/lengths):
    // manifest-aggregated under the same honesty rules — CBO gets
    // predicate SELECTIVITY, not just table sizes, with zero data IO
    val colStats = SnapshotTable.manifestColumnStats(snap)
    GraftShim.v1Catalog(spark).alterTableStats(id,
      Some(org.apache.spark.sql.catalyst.catalog.CatalogStatistics(
        BigInt(size), rows, colStats)))
  } catch { case _: Exception => () } // stats are advisory — a racing
  // DROP TABLE or an unreadable manifest must not fail the mutation

  /** `ANALYZE` for graft tables, manifest-tier: publish the current
    * snapshot's statistics for a catalog-named graft table without
    * scanning any data.
    */
  def analyzeGraftTable(spark: SparkSession, name: String): Unit = {
    val parts = name.split('.').toSeq
    val (path, id) = namedGraftTable(spark, parts).getOrElse(
      throw new IllegalArgumentException(
        s"$name is not a catalog-named graft table"))
    publishCatalogStats(spark, id, path)
  }

  private def colName(e: Expression): String = e match {
    case a: UnresolvedAttribute if a.nameParts.size == 1 => a.nameParts.head
    case a: UnresolvedAttribute => throw new IllegalArgumentException(
      "struct-field / qualified SET targets are not supported, got " +
        a.nameParts.mkString("."))
    case other => throw new IllegalArgumentException(
      s"expected a column reference, got $other")
  }

  /** Lower one parsed DML plan onto the snapshot verbs. Returns
    * (verb, new version, rows affected, files rewritten; -1 when the
    * verb does not report a rewrite count).
    */
  private[graft] def runParsed(spark: SparkSession, parsed: LogicalPlan)
      : (String, Long, Long, Long) = parsed match {

    // on an extensions session the SESSION PARSER already lowers DML
    // with graft targets to the command form (parse-time interception);
    // graft_dml('<stmt>') re-parses through that same parser, so unwrap
    case cmd: SnapshotDmlCommand => runParsed(spark, cmd.parsed)

    case UpdateTable(target, assignments, condition) =>
      val path = targetPath(spark, target).getOrElse(throw new
        IllegalArgumentException(s"UPDATE target is not a snapshot table " +
          s"path: ${unwrap(target)}"))
      val assignSeq = assignments.map { case Assignment(k, v) =>
        colName(k) -> GraftShim.column(v)
      }
      val dup = assignSeq.groupBy(_._1).collect {
        case (c, vs) if vs.size > 1 => c }
      require(dup.isEmpty,
        s"duplicate SET assignment target(s): ${dup.mkString(", ")}")
      val assigns = assignSeq.toMap
      val cond = condition.map(GraftShim.column)
        .getOrElse(org.apache.spark.sql.functions.lit(true))
      val (v, matched, files) =
        SnapshotTable.updateWhere(spark, path, cond, assigns)
      ("update", v, matched, files.toLong)

    case DeleteFromTable(target, condition) =>
      val path = targetPath(spark, target).getOrElse(throw new
        IllegalArgumentException(s"DELETE target is not a snapshot table " +
          s"path: ${unwrap(target)}"))
      val (v, deleted, files) =
        SnapshotTable.deleteWhere(spark, path, GraftShim.column(condition))
      ("delete", v, deleted, files.toLong)

    case m: MergeIntoTable =>
      val path = targetPath(spark, m.targetTable).getOrElse(throw new
        IllegalArgumentException(s"MERGE target is not a snapshot table " +
          s"path: ${unwrap(m.targetTable)}"))
      val (v, updated, deleted, inserted, files) = lowerMerge(spark, path, m)
      ("merge", v, updated + deleted + inserted, files.toLong)

    case i: InsertIntoStatement =>
      val path = targetPath(spark, i.table).getOrElse(throw new
        IllegalArgumentException(s"INSERT target is not a snapshot table " +
          s"path: ${unwrap(i.table)}"))
      require(i.partitionSpec.isEmpty,
        "static PARTITION specs are not supported; partitioned snapshot " +
          "tables label files from row values")
      // the verb re-resolves the current snapshot internally; this read
      // is only for casting, and a schema that moves in between is
      // additive-only (extra columns read as NULL), so the batch stays
      // readable against the committed snapshot. BRANCH-SCOPE AWARE:
      // inside withBranch (graft_branch_dml) the cast target is the
      // branch head's schema, which may have evolved past main's
      val snap = SnapshotTable.currentSnapshot(spark, path)
      val schema = snap.schema
      val src = GraftShim.ofRows(spark, i.query)
      import org.apache.spark.sql.functions.{col => c}
      // align to the table schema: positional (or through the explicit
      // column list), then cast — an int VALUES literal must land in a
      // bigint column as a bigint, never as a mistyped parquet file
      val aligned = (if (i.byName) {
        // INSERT INTO ... BY NAME (Spark 3.5 grammar): align by the
        // query's own column names — positional alignment here would
        // silently insert values into the wrong columns. A SUBSET of
        // the table columns is legal (omitted nullable columns fill
        // with typed NULLs — Delta's BY NAME semantics)
        alignByName(src, schema, "INSERT BY NAME query",
          allowSubset = true, defaults = SnapshotTable.defaultsOf(snap))
      } else if (i.userSpecifiedCols.nonEmpty) {
        require(i.userSpecifiedCols.length == src.columns.length,
          s"INSERT column list arity ${i.userSpecifiedCols.length} != " +
            s"query arity ${src.columns.length}")
        // standard SQL / Delta semantics: a SUBSET column list is
        // legal — omitted nullable columns fill with typed NULLs
        alignByName(src.toDF(i.userSpecifiedCols.toIndexedSeq: _*),
          schema, "INSERT column list", allowSubset = true,
          defaults = SnapshotTable.defaultsOf(snap))
      } else {
        require(src.columns.length == schema.length,
          s"INSERT query arity ${src.columns.length} != table arity " +
            s"${schema.length}")
        src.toDF(schema.fieldNames.toIndexedSeq: _*)
      }).select(schema.map(f =>
        c(s"`${f.name}`").cast(f.dataType).as(f.name)).toIndexedSeq: _*)
      // identity tables: an INSERT that OMITTED the column had it
      // NULL-filled by the alignment above — drop it again so the
      // append's generated-always guard (a data scan) never runs on
      // the common path; an insert that NAMED the column keeps it and
      // pays the guard (which rejects any non-null value)
      val supplied = snap.meta.get("identityCol").map { idc =>
        if (i.byName) src.columns.exists(_.equalsIgnoreCase(idc))
        else if (i.userSpecifiedCols.nonEmpty)
          i.userSpecifiedCols.exists(_.equalsIgnoreCase(idc))
        else true // positional arity covers every column, id included
      }
      val toWrite = snap.meta.get("identityCol") match {
        case Some(idc) if supplied.contains(false) => aligned.drop(idc)
        case _ => aligned
      }
      // the inserted count rides the write pass itself (the
      // CollectMetrics discipline every other verb uses — no extra job)
      val obs = org.apache.spark.sql.Observation()
      val observed = toWrite.observe(obs,
        org.apache.spark.sql.functions.count(
          org.apache.spark.sql.functions.lit(1L)).as("inserted"))
      val v =
        if (i.overwrite)
          // INSERT OVERWRITE = atomic whole-table replace (the Delta
          // semantics): ONE commit whose snapshot lists only the fresh
          // files — readers see old-or-new, never a mix, and the old
          // version stays time-travelable until expiry
          SnapshotTable.replaceContents(spark, path, observed)
        else SnapshotTable.append(spark, path, observed)
      (if (i.overwrite) "insert_overwrite" else "insert",
        v, graft.Observed.observedLong(obs.get, "inserted")(
          aligned.count()), -1L)

    case ct: CreateTableAsSelect =>
      val path = pathIdent(ct.name).getOrElse(throw new
        IllegalArgumentException("CREATE TABLE target must be a " +
          s"backquoted path identifier, got ${ct.name}"))
      if (snapshotPathOf(spark, Seq(path)).isDefined) {
        if (ct.ignoreIfExists)
          ("create", SnapshotTable.currentVersion(spark, path), 0L, -1L)
        else throw new IllegalArgumentException(
          s"snapshot table $path already exists (use IF NOT EXISTS)")
      } else {
        val df = GraftShim.ofRows(spark, ct.query)
        val obs = org.apache.spark.sql.Observation()
        val observed = df.observe(obs, org.apache.spark.sql.functions
          .count(org.apache.spark.sql.functions.lit(1L)).as("created"))
        val v = ct.partitioning match {
          case Seq() => SnapshotTable.create(spark, path, observed)
          // Spark's parser already produces typed Transform nodes for
          // PARTITIONED BY (days(ts), bucket(8, k), truncate(4, s),
          // c) — lower each to the engine's canonical spec text (the
          // Scala case classes are private[sql]; the public Transform
          // interface exposes name/references/arguments)
          case ts => SnapshotTable.createPartitioned(spark, path,
            observed, ts.map(transformSpecText))
        }
        ("create", v,
          graft.Observed.observedLong(obs.get, "created")(df.count()), -1L)
      }

    case DropTable(ident, ifExists, _) =>
      val path = pathIdent(ident).getOrElse(throw new
        IllegalArgumentException("DROP TABLE target must be a " +
          s"backquoted path identifier, got $ident"))
      snapshotPathOf(spark, Seq(path)) match {
        case Some(p) =>
          val hp = new org.apache.hadoop.fs.Path(p)
          hp.getFileSystem(spark.sparkContext.hadoopConfiguration)
            .delete(hp, true)
          ("drop", 0L, 0L, -1L)
        case None if ifExists => ("drop", 0L, 0L, -1L)
        case None => throw new IllegalArgumentException(
          s"$path is not a snapshot table (no _manifests marker) — " +
            "refusing to delete")
      }

    case a: AddCheckConstraint =>
      val path = constraintTargetPath(spark, a).getOrElse(throw new
        IllegalArgumentException("ADD CONSTRAINT target is not a " +
          "snapshot table path"))
      val cc = a.checkConstraint
      require(cc.userProvidedName != null && cc.userProvidedName.nonEmpty,
        "ADD CONSTRAINT requires a constraint name")
      val v = SnapshotTable.addConstraint(spark, path, cc.userProvidedName,
        cc.condition.replaceAll("[\\r\\n]+", " "))
      ("add_constraint", v, 0L, -1L)

    case dc: DropConstraint =>
      val path = dc.table.collectFirst {
        case u: UnresolvedTable => u.multipartIdentifier
      }.flatMap(snapshotPathOf(spark, _)).getOrElse(throw new
        IllegalArgumentException("DROP CONSTRAINT target is not a " +
          "snapshot table path"))
      val v = SnapshotTable.dropConstraint(spark, path, dc.name)
      ("drop_constraint", v, 0L, -1L)

    case other => runAlter(spark, other).getOrElse(
      throw new IllegalArgumentException(
        "graft_dml supports CREATE TABLE AS / DROP TABLE / ALTER TABLE " +
          "ADD|DROP CONSTRAINT / RENAME|DROP|ADD COLUMN(S) / ALTER " +
          "COLUMN TYPE / INSERT INTO / UPDATE / DELETE / " +
          "MERGE INTO statements, got: " + other.nodeName))
  }


  /** The snapshot-table path under an AddCheckConstraint's child (the
    * parser nests the target relation inside a NOT(condition) filter).
    */
  private[graft] def constraintTargetPath(spark: SparkSession,
      a: AddCheckConstraint): Option[String] =
    a.child.collectFirst { case UnresolvedRelation(parts, _, _) => parts }
      .flatMap(snapshotPathOf(spark, _))

  /** The snapshot path behind an ALTER TABLE target (UnresolvedTable
    * child): a backquoted path or a catalog name with provider graft.
    */
  private[graft] def alterTargetPath(spark: SparkSession,
      table: LogicalPlan): Option[String] =
    table.collectFirst { case u: UnresolvedTable => u.multipartIdentifier }
      .flatMap(parts => snapshotPathOf(spark, parts)
        .orElse(namedGraftTable(spark, parts).map(_._1)))

  /** Lower the ALTER TABLE column-evolution verbs (RENAME/DROP/ADD
    * COLUMN, ALTER COLUMN TYPE) onto the metadata-only snapshot verbs
    * — the SQL face of the column-mapping layer. Returns None when the
    * plan is not one of these shapes.
    */
  private[graft] def runAlter(spark: SparkSession, parsed: LogicalPlan)
      : Option[(String, Long, Long, Long)] = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      AddColumns, AlterColumns, DropColumns, RenameColumn}
    def single(f: org.apache.spark.sql.catalyst.analysis.FieldName,
        what: String): String = {
      require(f.name.size == 1,
        s"$what supports top-level columns only, got " +
          f.name.mkString("."))
      f.name.head
    }
    def pathOf(t: LogicalPlan, what: String): String =
      alterTargetPath(spark, t).getOrElse(throw new
        IllegalArgumentException(s"$what target is not a snapshot " +
          s"table path or a graft catalog name"))
    // names resolve CASE-INSENSITIVELY like every other SQL reference
    // (a case-differing IF EXISTS must find the column, not silently
    // no-op; a case-differing plain reference must act, not throw a
    // spurious 'no such column')
    def canonical(schema: org.apache.spark.sql.types.StructType,
        n: String): Option[String] =
      schema.fieldNames.find(_.equalsIgnoreCase(n))
    val out = parsed match {
      case rc: RenameColumn =>
        val path = pathOf(rc.table, "ALTER TABLE RENAME COLUMN")
        val schema = SnapshotTable.readManifest(spark, path,
          SnapshotTable.currentVersion(spark, path)).schema
        val from0 = single(rc.column, "RENAME COLUMN")
        val from = canonical(schema, from0).getOrElse(
          throw new IllegalArgumentException(s"no such column $from0"))
        val v = SnapshotTable.renameColumn(spark, path, from, rc.newName)
        Some(("rename_column", v, 0L, 0L))
      case dc: DropColumns =>
        val path = pathOf(dc.table, "ALTER TABLE DROP COLUMN")
        val schema = SnapshotTable.readManifest(spark, path,
          SnapshotTable.currentVersion(spark, path)).schema
        // resolve names here (IF EXISTS filters the missing ones);
        // dropColumns pre-flights EVERY guard — partition membership,
        // constraint references, remaining-column count — against the
        // starting schema and applies the whole statement as ONE
        // manifest commit, so it can never half-apply then error
        val names = dc.columnsToDrop.map(single(_, "DROP COLUMN"))
          .flatMap { n =>
            canonical(schema, n) match {
              case Some(c) => Seq(c)
              case None =>
                require(dc.ifExists, s"DROP COLUMN: no such column $n " +
                  "(use IF EXISTS to ignore)")
                Nil
            }
          }
        val v =
          if (names.isEmpty) SnapshotTable.currentVersion(spark, path)
          else SnapshotTable.dropColumns(spark, path, names)
        Some(("drop_column", v, names.size.toLong, 0L))
      case ac: AddColumns =>
        val path = pathOf(ac.table, "ALTER TABLE ADD COLUMNS")
        val fields = ac.columnsToAdd.map { q =>
          require(q.path.isEmpty,
            "ADD COLUMNS supports top-level columns only, got " +
              q.name.mkString("."))
          require(q.position.isEmpty,
            "ADD COLUMNS position clauses are not supported")
          require(q.nullable,
            s"added column ${q.colName} must be nullable (existing " +
              "files have no values)")
          val f = org.apache.spark.sql.types.StructField(q.colName,
            q.dataType, nullable = true)
          q.comment.map(f.withComment).getOrElse(f)
        }
        // `ADD COLUMN c T DEFAULT <lit>` — initial-default (rows that
        // predate the evolution read it) + write-default (INSERTs that
        // omit the column fill it); addColumns validates constancy
        val defaults = ac.columnsToAdd.flatMap(q =>
          q.default.map(d => q.colName -> d.originalSQL)).toMap
        val v = SnapshotTable.addColumns(spark, path, fields, defaults)
        Some(("add_columns", v, fields.size.toLong, 0L))
      case al: AlterColumns =>
        val path = pathOf(al.table, "ALTER TABLE ALTER COLUMN")
        val schema = SnapshotTable.readManifest(spark, path,
          SnapshotTable.currentVersion(spark, path)).schema
        def colOf(spec: org.apache.spark.sql.catalyst.plans.logical
            .AlterColumnSpec): String = {
          val c0 = single(spec.column, "ALTER COLUMN")
          canonical(schema, c0).getOrElse(
            throw new IllegalArgumentException(s"no such column $c0"))
        }
        if (al.specs.forall(_.newDataType.isDefined)) {
          // validate spec SHAPE here; widenColumns rejects two specs on
          // one column up front, skips a spec to the current type and
          // applies the rest as ONE manifest commit — a multi-spec
          // statement can never half-apply then error
          val widens = al.specs.map { spec =>
            require(spec.newNullability.isEmpty &&
              spec.newComment.isEmpty && spec.newPosition.isEmpty &&
              spec.newDefaultExpression.isEmpty && !spec.dropDefault,
              "ALTER COLUMN TYPE does not combine with other changes " +
                "in one spec")
            (colOf(spec), spec.newDataType.get)
          }
          val v = SnapshotTable.widenColumns(spark, path, widens)
          Some(("alter_column_type", v, al.specs.size.toLong, 0L))
        } else {
          // nullability / default specs commit one at a time (each is
          // its own verb); a single-spec statement is the common case
          // and stays atomic. Multi-spec statements mixing classes
          // are refused rather than half-applied.
          require(al.specs.size == 1,
            "ALTER COLUMN SET/DROP NOT NULL / SET/DROP DEFAULT takes " +
              "one column per statement")
          val spec = al.specs.head
          require(spec.newDataType.isEmpty && spec.newComment.isEmpty &&
            spec.newPosition.isEmpty,
            "ALTER COLUMN supports TYPE widening, SET/DROP NOT NULL, " +
              "and SET/DROP DEFAULT — one change per statement")
          val c = colOf(spec)
          (spec.newNullability, spec.newDefaultExpression,
              spec.dropDefault) match {
            case (Some(false), None, false) =>
              val v = SnapshotTable.setNotNull(spark, path, c)
              Some(("alter_column_set_not_null", v, 1L, 0L))
            case (Some(true), None, false) =>
              val v = SnapshotTable.dropNotNull(spark, path, c)
              Some(("alter_column_drop_not_null", v, 1L, 0L))
            case (None, Some(d), false) =>
              val v = SnapshotTable.setColumnDefault(spark, path, c,
                d.originalSQL)
              Some(("alter_column_set_default", v, 1L, 0L))
            case (None, None, true) =>
              val v = SnapshotTable.dropColumnDefault(spark, path, c)
              Some(("alter_column_drop_default", v, 1L, 0L))
            case other => throw new IllegalArgumentException(
              "ALTER COLUMN supports TYPE widening, SET/DROP NOT " +
                s"NULL, and SET/DROP DEFAULT — got $other")
          }
        }
      case _ => None
    }
    out.foreach { case (_, v, _, _) =>
      // named targets: converge the catalog's stored schema onto the
      // evolved manifest (the source of truth) and drop the cached
      // relation pinned to the old one
      parsed.foreach {
        case u: UnresolvedTable =>
          namedGraftTable(spark, u.multipartIdentifier).foreach {
            case (path, id) =>
              val cat = GraftShim.v1Catalog(spark)
              try cat.alterTableDataSchema(id,
                SnapshotTable.readManifest(spark, path, v).schema)
              catch { case _: Exception => () } // best-effort mirror
              cat.refreshTable(id)
          }
        case _ => ()
      }
    }
    out
  }

  /** Lower a parsed MERGE INTO carrying the FULL clause surface —
    * conditional matched clauses, THEN DELETE, column-level SET,
    * conditional/column-list inserts, NOT MATCHED BY SOURCE, and
    * multi-column ON — onto [[SnapshotTable.mergeIntoFull]]. The parsed
    * expressions are TRANSLATED, not resolved: every attribute maps to
    * its side by alias/name (ambiguity is a hard error, as in SQL), the
    * target side keeps plain names, the source side takes the merge
    * join's `__s_` namespace — so the snapshot verb can bind them
    * against its own frames without exprId plumbing.
    */
  private def lowerMerge(spark: SparkSession, path: String,
      m: MergeIntoTable): (Long, Long, Long, Long, Int) = {
    import org.apache.spark.sql.catalyst.plans.logical.{
      DeleteAction, InsertAction, UpdateAction}
    // qualifiers resolve against the alias when one is given, else
    // against the relation's own NAME (standard SQL: `MERGE INTO tbl
    // USING v ON tbl.k = v.k` is legal without AS aliases)
    def namesOf(p: LogicalPlan): Seq[String] = p match {
      case SubqueryAlias(id, _) => Seq(id.name)
      case UnresolvedRelation(parts, _, _) => Seq(parts.last)
      case _ => Nil
    }
    val tAlias = namesOf(m.targetTable)
    val sAlias = namesOf(m.sourceTable)
    val source = GraftShim.ofRows(spark, m.sourceTable)
    val schema = SnapshotTable.readManifest(spark, path,
      SnapshotTable.currentVersion(spark, path)).schema
    val tByLower = schema.fieldNames.map(n => n.toLowerCase -> n).toMap
    val sByLower = source.columns.map(n => n.toLowerCase -> n).toMap

    // resolve one attribute to its side + canonical column name
    // (isTarget=true) / (isTarget=false → source)
    def side(a: UnresolvedAttribute): (Boolean, String) = a.nameParts match {
      case Seq(q, c) if tAlias.exists(_.equalsIgnoreCase(q)) =>
        (true, tByLower.getOrElse(c.toLowerCase,
          throw new IllegalArgumentException(
            s"MERGE references unknown target column $q.$c")))
      case Seq(q, c) if sAlias.exists(_.equalsIgnoreCase(q)) =>
        (false, sByLower.getOrElse(c.toLowerCase,
          throw new IllegalArgumentException(
            s"MERGE references unknown source column $q.$c")))
      case Seq(c) =>
        (tByLower.get(c.toLowerCase), sByLower.get(c.toLowerCase)) match {
          case (Some(_), Some(_)) => throw new IllegalArgumentException(
            s"MERGE reference $c is ambiguous — qualify it with the " +
              "target or source alias")
          case (Some(t), None) => (true, t)
          case (None, Some(s)) => (false, s)
          case (None, None) => throw new IllegalArgumentException(
            s"MERGE references unknown column $c")
        }
      case parts => throw new IllegalArgumentException(
        s"MERGE reference ${parts.mkString(".")} does not resolve to " +
          "the target or the source")
    }
    def translate(e: Expression, where: String, allowTarget: Boolean,
        allowSource: Boolean): org.apache.spark.sql.Column =
      GraftShim.column(e.transformUp {
        case a: UnresolvedAttribute =>
          // when a clause can only see ONE side (NMBS conditions are
          // target-only, INSERT values source-only), unqualified names
          // resolve against that side alone — no spurious ambiguity
          val (isTarget, c) = a.nameParts match {
            case Seq(n) if allowTarget && !allowSource =>
              (true, tByLower.getOrElse(n.toLowerCase,
                throw new IllegalArgumentException(
                  s"$where references unknown target column $n")))
            case Seq(n) if allowSource && !allowTarget =>
              (false, sByLower.getOrElse(n.toLowerCase,
                throw new IllegalArgumentException(
                  s"$where references unknown source column $n")))
            case _ => side(a)
          }
          if (isTarget) {
            require(allowTarget,
              s"$where may not reference target column $c")
            UnresolvedAttribute(Seq(c))
          } else {
            require(allowSource,
              s"$where may not reference source column $c")
            UnresolvedAttribute(Seq(s"__s_$c"))
          }
      })
    def conj(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
        conj(l) ++ conj(r)
      case x => Seq(x)
    }
    val on = conj(m.mergeCondition).map {
      case EqualTo(l: UnresolvedAttribute, r: UnresolvedAttribute) =>
        (side(l), side(r)) match {
          case ((true, tc), (false, sc)) => (tc, sc)
          case ((false, sc), (true, tc)) => (tc, sc)
          case _ => throw new IllegalArgumentException(
            "each MERGE ON conjunct must equate a target and a source " +
              s"column, got ${l.nameParts.mkString(".")} = " +
              r.nameParts.mkString("."))
        }
      case other => throw new IllegalArgumentException(
        "MERGE ON must be a conjunction of target = source column " +
          s"equalities, got $other")
    }
    def starSet(where: String): Map[String, org.apache.spark.sql.Column] =
      schema.fieldNames.map { t =>
        val s = sByLower.getOrElse(t.toLowerCase,
          throw new IllegalArgumentException(
            s"$where * requires a source column named $t"))
        t -> SnapshotTable.srcRef(s)
      }.toMap
    def assignsOf(assigns: Seq[Assignment], where: String,
        allowTarget: Boolean, allowSource: Boolean)
        : Map[String, org.apache.spark.sql.Column] = {
      val pairs = assigns.map { case Assignment(k, v) =>
        // a SET / INSERT target is ALWAYS a target column in SQL —
        // an unqualified name resolves against the table schema alone
        // (no source ambiguity), a qualified one must use the target
        // alias
        val tcol = k match {
          case a: UnresolvedAttribute => a.nameParts match {
            case Seq(c) => tByLower.getOrElse(c.toLowerCase,
              throw new IllegalArgumentException(
                s"$where assigns unknown target column $c"))
            case Seq(q, c) if tAlias.exists(_.equalsIgnoreCase(q)) =>
              tByLower.getOrElse(c.toLowerCase,
                throw new IllegalArgumentException(
                  s"$where assigns unknown target column $q.$c"))
            case parts => throw new IllegalArgumentException(
              s"$where assignment target ${parts.mkString(".")} does " +
                "not name a target column")
          }
          case other => throw new IllegalArgumentException(
            s"expected a column reference, got $other")
        }
        tcol -> translate(v, where, allowTarget, allowSource)
      }
      val dup = pairs.groupBy(_._1).collect {
        case (c, vs) if vs.size > 1 => c }
      require(dup.isEmpty,
        s"$where assigns duplicate column(s): ${dup.mkString(", ")}")
      pairs.toMap
    }
    val matched = m.matchedActions.map {
      case UpdateStarAction(cond) => SnapshotTable.MergeWhen(
        cond.map(translate(_, "WHEN MATCHED condition",
          allowTarget = true, allowSource = true)),
        Some(starSet("WHEN MATCHED UPDATE SET")))
      case UpdateAction(cond, assigns, _) => SnapshotTable.MergeWhen(
        cond.map(translate(_, "WHEN MATCHED condition",
          allowTarget = true, allowSource = true)),
        Some(assignsOf(assigns, "WHEN MATCHED UPDATE",
          allowTarget = true, allowSource = true)))
      case DeleteAction(cond) => SnapshotTable.MergeWhen(
        cond.map(translate(_, "WHEN MATCHED condition",
          allowTarget = true, allowSource = true)), None)
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN MATCHED action: $other")
    }
    val nmbs = m.notMatchedBySourceActions.map {
      case UpdateAction(cond, assigns, _) => SnapshotTable.MergeWhen(
        cond.map(translate(_, "WHEN NOT MATCHED BY SOURCE condition",
          allowTarget = true, allowSource = false)),
        Some(assignsOf(assigns, "WHEN NOT MATCHED BY SOURCE UPDATE",
          allowTarget = true, allowSource = false)))
      case DeleteAction(cond) => SnapshotTable.MergeWhen(
        cond.map(translate(_, "WHEN NOT MATCHED BY SOURCE condition",
          allowTarget = true, allowSource = false)), None)
      case other => throw new IllegalArgumentException(
        "WHEN NOT MATCHED BY SOURCE supports UPDATE SET and DELETE, " +
          s"got $other")
    }
    val notMatched = m.notMatchedActions.map {
      case InsertStarAction(cond) => SnapshotTable.MergeInsert(
        cond.map(translate(_, "WHEN NOT MATCHED condition",
          allowTarget = false, allowSource = true)),
        starSet("WHEN NOT MATCHED INSERT"))
      case InsertAction(cond, assigns) => SnapshotTable.MergeInsert(
        cond.map(translate(_, "WHEN NOT MATCHED condition",
          allowTarget = false, allowSource = true)),
        assignsOf(assigns, "WHEN NOT MATCHED INSERT",
          allowTarget = false, allowSource = true))
      case other => throw new IllegalArgumentException(
        s"unsupported WHEN NOT MATCHED action: $other")
    }
    SnapshotTable.mergeIntoFull(spark, path, source, on, matched, nmbs,
      notMatched)
  }

  /** A single backquoted path-shaped identifier under an
    * UnresolvedIdentifier (the CREATE/DROP target form).
    */
  /** Lower a DSv2 PARTITIONED BY transform to the engine's canonical
    * spec text ([[PartitionTransforms]] re-parses and validates it
    * against the schema). Argument order is normalized — the SQL
    * surface accepts bucket(8, k) and truncate(4, s) in either
    * (literal, column) order.
    */
  private def transformSpecText(
      t: org.apache.spark.sql.connector.expressions.Transform): String = {
    val refs = t.references.map(_.fieldNames.mkString("."))
    t.name.toLowerCase match {
      case "identity" => refs.head
      case n @ ("days" | "hours" | "months" | "years") =>
        require(refs.length == 1,
          s"$n() takes exactly one column, got ${refs.mkString(", ")}")
        s"$n(${refs.head})"
      case n @ ("bucket" | "truncate") =>
        val lits = t.arguments.collect {
          case l: org.apache.spark.sql.connector.expressions
            .Literal[_] => l.value.toString
        }
        require(lits.length == 1 && refs.length == 1,
          s"$n() takes one integer and one column, got $t")
        s"$n(${lits.head},${refs.head})"
      case other => throw new IllegalArgumentException(
        s"unsupported partition transform $other(...) — supported: " +
          "identity columns, days/hours/months/years(col), " +
          "bucket(n, col), truncate(w, col)")
    }
  }

  private[graft] def pathIdent(plan: LogicalPlan): Option[String] =
    plan match {
      case UnresolvedIdentifier(Seq(p), _) if p.contains('/') => Some(p)
      case _ => None
    }

  /** Parse and execute `stmt`, returning the one-row result frame —
    * the body of the `graft_dml` procedure TVF.
    */
  def execute(spark: SparkSession, stmt: String): DataFrame = {
    val parsed = GraftShim.parsePlan(spark, stmt)
    val (verb, v, rows, files) = runParsed(spark, parsed)
    refreshNamedTargets(spark, parsed)
    import org.apache.spark.sql.functions.lit
    spark.range(1).select(
      lit(verb).as("verb"), lit(v).as("version"),
      lit(rows).as("rows_affected"), lit(files).as("files_rewritten"))
  }
}

/** The eagerly-executed command form of [[GraftDml]] for the
  * extensions-injected native-DML path: `spark.sql("UPDATE `...` ...")`
  * on a session with `graft.GraftExtensions` runs this like any other
  * SQL command and returns (verb, version, rows_affected,
  * files_rewritten). The carried `parsed` plan is a constructor
  * argument, not a child, so the command itself is always resolved.
  */
final case class SnapshotDmlCommand(parsed: LogicalPlan)
    extends LeafRunnableCommand {
  override val output: Seq[Attribute] = Seq(
    AttributeReference("verb", StringType, nullable = false)(),
    AttributeReference("version", LongType, nullable = false)(),
    AttributeReference("rows_affected", LongType, nullable = false)(),
    AttributeReference("files_rewritten", LongType, nullable = false)())
  override def run(spark: SparkSession): Seq[Row] = {
    val (verb, v, rows, files) = GraftDml.runParsed(spark, parsed)
    GraftDml.refreshNamedTargets(spark, parsed)
    Seq(Row(verb, v, rows, files))
  }
}

/** The EXPLAIN-safe procedure shape shared by the side-effecting TVFs
  * (`graft_dml` / `graft_optimize` / `graft_maintain` /
  * `graft_restore`): the TVF resolves to THIS leaf command instead of
  * running its verb while the plan is built. Spark's
  * EagerlyExecuteCommands then runs it exactly when the statement
  * executes — and `EXPLAIN SELECT * FROM graft_optimize(...)` analyzes
  * the child with CommandExecutionMode.SKIP, so explaining a procedure
  * no longer compacts the table (the r12-era footgun). The output
  * schema is declared statically because analysis must know it without
  * executing.
  */
final case class GraftProcedureCommand(procedure: String,
    cols: Seq[(String, org.apache.spark.sql.types.DataType)],
    body: SparkSession => Seq[Row]) extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    cols.map { case (n, t) => AttributeReference(n, t)() }
  override def run(spark: SparkSession): Seq[Row] = body(spark)
  override def simpleString(maxFields: Int): String =
    s"GraftProcedureCommand $procedure"
}
