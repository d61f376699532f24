package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftShim, Row, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.execution.datasources.HadoopFsRelation
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, RelationProvider, SchemaRelationProvider, TableScan}
import org.apache.spark.sql.types.StructType

/** Snapshot tables as a registered Spark data source (`format("graft")`)
  * and as CATALOG-NAMED tables — the seam that lets a user address the
  * transactional layer the way the reference addresses its tables: by
  * NAME (database.py:75-278 keeps a named-table registry; every
  * reference verb takes a table name, never a path).
  *
  *   - `spark.read.format("graft").load(path)` — the manifest-backed
  *     scan: a [[SnapshotFileIndex]] relation, so Catalyst prunes files
  *     with manifest stats/partition labels, parquet prunes row groups,
  *     and the scan stays inside whole-stage codegen. Time travel via
  *     `.option("versionAsOf", v)`.
  *   - `df.write.format("graft").mode(m).save(path)` — append /
  *     overwrite / errorIfExists / ignore, each lowered onto the atomic
  *     snapshot verbs (append, replaceContents, create): one manifest
  *     commit per save, never a bare parquet write.
  *   - `CREATE TABLE name USING graft LOCATION '<path>'` (+ CTAS, with
  *     `OPTIONS (partitionCol '<c>')` for partitioned CTAS) — the
  *     session catalog stores name -> provider/location; SELECT on the
  *     name resolves through this provider on ANY session, and on an
  *     extensions session the DML verbs (INSERT/UPDATE/DELETE/MERGE)
  *     resolve the name to its snapshot path and run the file-granular
  *     verbs (GraftDml).
  *
  * This is the provider integration shape v1 sources use on Spark 4
  * (the Delta OSS lineage): the provider implements only the v1
  * interfaces, so ResolveSessionCatalog routes its DDL to the v1
  * commands and FindDataSourceTable materializes reads through
  * [[RelationProvider.createRelation]]. DSv1 deliberately: the read
  * relation can then BE a HadoopFsRelation over the manifest FileIndex
  * — the exact plan shape Spark's FileSourceStrategy optimizes
  * (vectorized parquet, pushed filters, column pruning) — instead of a
  * row-at-a-time DSv2 PartitionReader re-implementing parquet.
  *
  * DV-bearing snapshots (outstanding deletion vectors) fall back to a
  * pre-planned merge-on-read scan ([[GraftDataSource.DvRelation]]):
  * correct always, file-skipping resumes after `compact()` purges the
  * vectors.
  */
class GraftDataSource extends RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider
    with org.apache.spark.sql.sources.StreamSourceProvider
    with org.apache.spark.sql.sources.StreamSinkProvider
    with DataSourceRegister {

  override def shortName(): String = "graft"

  /** table schema + change_type: the shape of the streaming change
    * feed ([[org.apache.spark.sql.GraftChangeSource]]).
    */
  private def changeSchemaOf(spark: SparkSession,
      table: String): StructType = {
    val v = SnapshotTable.currentVersion(spark, table)
    require(v > 0, s"no committed snapshot at $table — the change " +
      "feed needs an existing table")
    val base = SnapshotTable.readManifest(spark, table, v).schema
    // fail at STREAM DEFINITION, not in the first micro-batch: a data
    // column named change_type would collide with the feed's marker
    // (Delta reserves its CDF column names for the same reason)
    require(!base.fieldNames.exists(_.equalsIgnoreCase("change_type")),
      s"$table has a column named change_type — the change feed " +
        "reserves that name; rename the column to stream this table")
    StructType(base.fields
      :+ org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType, nullable = true))
  }

  /** The BRANCH feed's schema: branch head schema + change_type. */
  private def branchChangeSchemaOf(spark: SparkSession, table: String,
      branch: String): StructType = {
    val base = SnapshotTable.branchSchemaOf(spark, table, branch)
    require(!base.fieldNames.exists(_.equalsIgnoreCase("change_type")),
      s"$table has a column named change_type — the change feed " +
        "reserves that name; rename the column to stream this table")
    StructType(base.fields
      :+ org.apache.spark.sql.types.StructField("change_type",
        org.apache.spark.sql.types.StringType, nullable = true))
  }

  override def sourceSchema(sqlContext: SQLContext,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String]): (String, StructType) =
    ("graft", parameters.get("branch").map(_.trim).filter(_.nonEmpty)
      match {
        case Some(b) => branchChangeSchemaOf(sqlContext.sparkSession,
          pathOf(parameters), b)
        case None => changeSchemaOf(sqlContext.sparkSession,
          pathOf(parameters))
      })

  /** `spark.readStream.format("graft").load(path)`: the change feed
    * as a streaming source whose checkpointed offsets are snapshot
    * versions. `option("fromVersion", v)` starts the feed after
    * version v; the default (0) emits the whole starting snapshot as
    * an initial insert batch, then tails commits.
    */
  override def createSource(sqlContext: SQLContext, metadataPath: String,
      schema: Option[StructType], providerName: String,
      parameters: Map[String, String])
      : org.apache.spark.sql.execution.streaming.Source = {
    val spark = sqlContext.sparkSession
    val table = pathOf(parameters)
    // `option("branch", b)`: tail the branch's staged commit sequence
    // (offsets = head seqs) — the continuous-WAP audit stream. The
    // main-feed knobs are version-domain and do not apply.
    parameters.get("branch").map(_.trim).filter(_.nonEmpty)
      .foreach { b =>
        require(Seq("fromVersion", "fromTimestamp",
          "maxVersionsPerBatch", "maxBytesPerBatch")
          .forall(!parameters.contains(_)),
          "branch streams tail staged sequences — fromVersion/" +
            "fromTimestamp/rate options are version-domain and do " +
            "not apply")
        require(SnapshotTable.branchExists(spark, table, b),
          s"no branch $b on $table")
        return new org.apache.spark.sql.GraftBranchChangeSource(spark,
          table, b, branchChangeSchemaOf(spark, table, b))
      }
    // `fromTimestamp` mirrors `fromVersion` through the shared
    // commit-time resolution (Delta's startingTimestamp): the feed
    // starts AFTER the latest version committed at or before it
    val byTs = parameters.get("fromTimestamp").map(t =>
      SnapshotTable.versionAtTimestamp(spark, table,
        SnapshotTable.parseTsMillis(spark, t)))
    require(byTs.isEmpty || !parameters.contains("fromVersion"),
      "pass fromVersion OR fromTimestamp, not both")
    val base = byTs.orElse(parameters.get("fromVersion").map { v =>
      require(scala.util.Try(v.trim.toLong).isSuccess,
        s"fromVersion must be a version number, got '$v'")
      v.trim.toLong
    }).getOrElse(0L)
    // rate control: bound how far one micro-batch may advance the
    // version cursor, so a lagging stream (restart after a weekend of
    // commits) catches up in bounded batches, not one unbounded one
    val maxVersions = parameters.get("maxVersionsPerBatch").map { v =>
      require(scala.util.Try(v.trim.toLong).isSuccess &&
        v.trim.toLong > 0,
        s"maxVersionsPerBatch must be a positive integer, got '$v'")
      v.trim.toLong
    }
    val maxBytes = parameters.get("maxBytesPerBatch").map { v =>
      require(scala.util.Try(v.trim.toLong).isSuccess &&
        v.trim.toLong > 0,
        s"maxBytesPerBatch must be a positive byte count, got '$v'")
      v.trim.toLong
    }
    new org.apache.spark.sql.GraftChangeSource(spark, table, base,
      changeSchemaOf(spark, table), maxVersions, maxBytes,
      Some(metadataPath))
  }

  private def pathOf(parameters: Map[String, String]): String =
    parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft requires a path (load(path) / LOCATION '<path>')"))

  /** `CREATE TABLE (c T DEFAULT <lit>) USING graft`: Spark's analyzer
    * stores the default's SQL text as `CURRENT_DEFAULT` field metadata
    * (gated on `spark.sql.defaultColumn.allowedProviders` including
    * "graft" — the v1-source opt-in). A fresh bootstrap has no
    * pre-evolution files, so these are pure WRITE-defaults: record
    * them in the manifest meta right after the create commit.
    */
  private def recordDeclaredDefaults(spark: SparkSession, table: String,
      schema: StructType): Unit =
    schema.fields.foreach { f =>
      if (f.metadata.contains("CURRENT_DEFAULT")) {
        // a DEFAULT on the identity column is contradictory: the
        // write-default would fill omitted INSERTs with a non-null id
        // and the generated-always guard would then reject the batch
        require(!SnapshotTable.readManifest(spark, table,
          SnapshotTable.currentVersion(spark, table))
          .meta.get("identityCol").exists(_.equalsIgnoreCase(f.name)),
          s"${f.name} is GENERATED ALWAYS AS IDENTITY — it cannot " +
            "also declare a DEFAULT")
        SnapshotTable.setColumnDefault(spark, table, f.name,
          f.metadata.getString("CURRENT_DEFAULT"))
      }
    }

  /** `df.writeStream.format("graft")` — the exactly-once streaming
    * SINK onto a snapshot table, completing the round-trip with the
    * change-feed source (stream a table in, stream results back into
    * another table). Every micro-batch is ONE atomic manifest commit
    * carrying the batch id ([[SnapshotTable.commitStreamBatch]]), so a
    * batch redelivered after a crash between data write and checkpoint
    * advance — the at-least-once window every file sink double-writes
    * in — is detected and skipped: exactly-once effect with zero user
    * bookkeeping (the Delta sink's txn-action protocol; INSERT is the
    * reference's hottest verb, database.py:18-32).
    *
    *   - Append mode appends the batch; Complete mode atomically
    *     replaces the table with it (aggregate streams).
    *   - Update mode has no table-level equivalent — use foreachBatch
    *     + mergeIntoFull (StreamOps documents the recipe).
    *   - `option("createIfMissing", "true")` bootstraps the table from
    *     the first batch's schema; otherwise the table must exist.
    *   - `option("queryKey", k)` namespaces the batch-id watermark so
    *     several independent streams can feed one table.
    *   - `option("mergeSchema", "true")` (Append mode) opts into
    *     write-time schema evolution: a batch carrying NEW columns
    *     auto-adds them — nullable, in the same atomic commit as the
    *     batch and its id — instead of erroring.
    */
  override def createSink(sqlContext: SQLContext,
      parameters: Map[String, String], partitionColumns: Seq[String],
      outputMode: org.apache.spark.sql.streaming.OutputMode)
      : org.apache.spark.sql.execution.streaming.Sink = {
    import org.apache.spark.sql.streaming.OutputMode
    val table = pathOf(parameters)
    require(partitionColumns.isEmpty,
      "partitionBy on the stream writer is not supported — declare the " +
        "layout at table create (OPTIONS partitionCols / partitionBy on " +
        "the batch writer); streamed appends inherit it")
    require(outputMode == OutputMode.Append() ||
      outputMode == OutputMode.Complete(),
      s"graft sink supports Append and Complete output modes, got " +
        s"$outputMode — for Update semantics run foreachBatch + " +
        "SnapshotTable.mergeIntoFull (exactly-once via commitStreamBatch)")
    val queryKey = parameters.getOrElse("queryKey", "sink")
    val createIfMissing =
      parameters.get("createIfMissing").exists(_.toBoolean)
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    require(!(mergeSchema &&
      outputMode == OutputMode.Complete()),
      "mergeSchema applies to Append-mode sinks — Complete mode " +
        "replaces the whole table, so evolve it with a batch overwrite")
    val branch = parameters.get("branch").map(_.trim)
    require(branch.isEmpty || !createIfMissing,
      "branch sinks need an existing table and branch — createIfMissing "
        + "cannot bootstrap a branch")
    new GraftDataSource.GraftSink(sqlContext.sparkSession, table,
      queryKey, outputMode == OutputMode.Complete(), createIfMissing,
      mergeSchema, branch)
  }

  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String]): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = pathOf(parameters)
    val byVersion = parameters.get("versionAsOf").map { v =>
      require(scala.util.Try(v.trim.toLong).isSuccess,
        s"versionAsOf must be a version number, got '$v'")
      v.trim.toLong
    }
    // `TIMESTAMP AS OF`: resolve the commit-time high-water version
    // once at relation build (metadata-tier lookup) and pin it — the
    // scan then behaves exactly like an explicit versionAsOf read
    val byTs = parameters.get("timestampAsOf").map(t =>
      SnapshotTable.versionAtTimestamp(spark, table,
        SnapshotTable.parseTsMillis(spark, t)))
    // named refs: a TAG resolves to its pinned version (full FileIndex
    // pruning path); a BRANCH reads its head manifest, isolated from
    // main (the Iceberg/Delta `option("branch"/"tag", ...)` shape)
    val byTag = parameters.get("tag").map { n =>
      SnapshotTable.tags(spark, table).getOrElse(n.trim,
        throw new IllegalArgumentException(s"no tag '$n' on $table"))
    }
    val pins = Seq("versionAsOf" -> byVersion, "timestampAsOf" -> byTs,
      "tag" -> byTag, "branch" -> parameters.get("branch"))
      .filter(_._2.isDefined)
    require(pins.size <= 1, "pass at most ONE of versionAsOf / " +
      s"timestampAsOf / tag / branch, got ${pins.map(_._1).mkString(", ")}")
    // the session WAP conf (`SET graft.branch = b`) redirects an
    // UNPINNED read to the branch when the table carries it — a WAP
    // session must see its own staged writes (the Iceberg
    // spark.wap.branch read semantics); explicit pins always win
    val confBranch =
      if (pins.nonEmpty) None
      else spark.conf.getOption(SnapshotTable.WapBranchConf)
        .map(_.trim).filter(_.nonEmpty)
        .filter(b =>
          SnapshotTable.branchExistsCached(spark, table, b))
    parameters.get("branch").orElse(confBranch) match {
      case Some(b) =>
        new GraftDataSource.BranchRelation(spark, table, b.trim,
          SnapshotTable.branchSchemaOf(spark, table, b.trim))
      case None => GraftDataSource.relationFor(spark, table,
        byVersion.orElse(byTs).orElse(byTag))
    }
  }

  /** Schema-supplied resolution. Bootstrapping an EMPTY table from the
    * declared schema (`CREATE TABLE name (<schema>) USING graft
    * OPTIONS (createIfMissing 'true') LOCATION p`) is OPT-IN: this
    * same method services every schema-supplied READ — including a
    * catalog SELECT whose stored schema rides along — so an implicit
    * bootstrap would turn a typo'd load path, or a table directory
    * lost out-of-band, into a silently-created empty table returning
    * zero rows where a loud error is owed. On an existing table the
    * declared schema must match the manifest (a silent cast here would
    * be a wrong-answer class).
    */
  override def createRelation(sqlContext: SQLContext,
      parameters: Map[String, String],
      schema: StructType): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = pathOf(parameters)
    if (GraftDml.snapshotPathOf(spark, Seq(table)).isEmpty) {
      require(parameters.get("createIfMissing").exists(_.toBoolean),
        s"no snapshot table at $table — to bootstrap an empty table " +
          "from the declared schema pass OPTIONS (createIfMissing " +
          "'true'); a read must fail loudly, not create tables")
      // honor the declared layout metadata — partitioning and identity
      // — so every later INSERT labels files / draws ids
      identityColOf(parameters) match {
        case Some((idc, sortCols)) =>
          val declared = schema.fields.find(_.name.equalsIgnoreCase(idc))
          declared.foreach(f => require(f.dataType ==
            org.apache.spark.sql.types.LongType,
            s"identity column $idc must be BIGINT, got ${f.dataType}"))
          // createWithIdentity always commits the column FIRST; a
          // declaration anywhere else would be silently reordered —
          // and a positional INSERT written against the declared
          // order would then shift every value one column (the id is
          // NULL-filled, so the generated-always guard could not
          // catch it). The reference declares it first too
          // (database.py:78).
          declared.foreach(_ => require(
            schema.fields.head.name.equalsIgnoreCase(idc),
            s"declare the identity column $idc FIRST — the committed " +
              "schema leads with it, and a reordered declaration " +
              "would shift positional INSERT values"))
          // strip the declared column; createWithIdentity prepends it
          val without = StructType(schema.fields
            .filterNot(f => f.name.equalsIgnoreCase(idc)))
          SnapshotTable.createWithIdentity(spark, table,
            spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
              without), idCol = declared.map(_.name).getOrElse(idc),
            sortCols = sortCols, numFiles = 1,
            partitionCols = partitionColsOf(parameters))
          recordDeclaredDefaults(spark, table, schema)
        case None =>
          val empty = spark.createDataFrame(
            spark.sparkContext.emptyRDD[Row], schema)
          (partitionColsOf(parameters), bucketOf(parameters)) match {
            case (cols, Some((bcs, n))) =>
              // partition x bucket composes (partition by date, bucket
              // by join key — the canonical large-fact layout)
              SnapshotTable.createBucketed(spark, table, empty, bcs, n,
                Nil, cols)
            case (Nil, None) =>
              SnapshotTable.create(spark, table, empty, numFiles = 1)
            case (cols, None) => SnapshotTable.createPartitioned(spark,
              table, empty, cols)
          }
          recordDeclaredDefaults(spark, table, schema)
      }
    } else {
      // the MANIFEST is the single source of truth for an existing
      // table's schema — a supplied schema is never re-imposed
      // (honoring a stale one would resurrect renamed/dropped columns
      // or un-widen types). TOLERATED: schemas explainable by the
      // table's own history — current names, former names, dropped
      // names (the stale-catalog-after-evolution case). REJECTED: a
      // schema naming columns this table never had (a genuinely wrong
      // user read schema must fail loudly, not silently return
      // different columns).
      val snap = SnapshotTable.readManifest(spark, table,
        SnapshotTable.currentVersion(spark, table))
      val knownEver = (snap.schema.fieldNames.toSeq ++
        SnapshotTable.retiredNames(snap)).map(_.toLowerCase).toSet
      val alien = schema.fieldNames.filterNot(n =>
        knownEver(n.toLowerCase))
      require(alien.isEmpty,
        s"declared schema names columns the snapshot table at $table " +
          s"never had: ${alien.mkString(", ")} (table: " +
          s"${snap.schema.fieldNames.mkString(", ")}); the manifest is " +
          "the schema source of truth — a supplied read schema is not " +
          "honored")
    }
    createRelation(sqlContext, parameters)
  }

  /** `df.write.format("graft")` / `CREATE TABLE name USING graft AS
    * SELECT`: every mode lowers onto an atomic snapshot verb.
    */
  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
      parameters: Map[String, String], data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val table = pathOf(parameters)
    val exists = GraftDml.snapshotPathOf(spark, Seq(table)).isDefined
    val pcols = partitionColsOf(parameters)
    def createNew(): Unit = {
      identityColOf(parameters) match {
        case Some((idc, sortCols)) =>
          require(bucketOf(parameters).isEmpty,
            "identityCol with bucketCol is not supported — ids are " +
              "assigned at commit; create unbucketed or drop the " +
              "identity declaration")
          SnapshotTable.createWithIdentity(spark, table, data,
            idCol = idc, sortCols = sortCols, partitionCols = pcols)
        case None => bucketOf(parameters) match {
          case Some((bcs, n)) =>
            SnapshotTable.createBucketed(spark, table, data, bcs, n,
              Nil, pcols)
          case None =>
            if (pcols.isEmpty) SnapshotTable.create(spark, table, data)
            else SnapshotTable.createPartitioned(spark, table, data,
              pcols)
        }
      }
      ()
    }
    // writes into an EXISTING table go through the same align-by-name
    // + cast discipline as SQL INSERT: a frame whose column names
    // drift (e.g. 'value' for 'v') must error, never commit a file
    // the schema'd reader silently NULL-fills; a type drift must cast,
    // never stage mistyped parquet that poisons every later read.
    // `option("mergeSchema", "true")` opts into write-time schema
    // evolution: NEW source columns auto-ADD (nullable, same atomic
    // commit — the verbs align internally against the evolved schema);
    // without it the unknown-column error stands.
    val mergeSchema = parameters.get("mergeSchema").exists(_.toBoolean)
    // partitionBy on a write into an EXISTING table: the table's
    // declared layout governs (appends inherit it), so a MATCHING
    // declaration is a no-op and a disagreeing one errors — dropping
    // the user's layout request silently is the one wrong option
    // (the same rule as the OPTIONS/partitionBy disagreement above)
    if (exists && pcols.nonEmpty) {
      val declared = TableLayout.of(
        SnapshotTable.readManifest(spark, table,
          SnapshotTable.currentVersion(spark, table))).partitionCols
      require(declared == pcols,
        s"partitionBy(${pcols.mkString(", ")}) disagrees with the " +
          s"existing table's layout (${if (declared.isEmpty)
            "unpartitioned" else declared.mkString(", ")}) — a write " +
          "into an existing table inherits its declared partitioning")
    }
    def aligned(): org.apache.spark.sql.DataFrame =
      if (mergeSchema) data
      else {
        // ctx-aware: inside a branch write the alignment target is the
        // BRANCH head's schema, not main's
        val snap = SnapshotTable.currentSnapshot(spark, table)
        // identity tables: the id column is ASSIGNED at commit — the
        // writer's every-column-present rule must not demand it
        GraftDml.alignByName(data,
          SnapshotTable.writeSchemaFor(snap, data),
          "write frame", allowSubset = false)
      }
    def runWrite(): Boolean = mode match {
      case SaveMode.Append =>
        if (exists)
          SnapshotTable.append(spark, table, aligned(), mergeSchema)
        else createNew()
        true
      case SaveMode.Overwrite =>
        // atomic whole-table replace: ONE commit, the old version stays
        // time-travelable (the Delta overwrite semantics)
        if (exists)
          SnapshotTable.replaceContents(spark, table, aligned(),
            mergeSchema)
        else createNew()
        true
      case SaveMode.ErrorIfExists =>
        if (exists) throw new IllegalArgumentException(
          s"snapshot table $table already exists (mode=ErrorIfExists)")
        createNew()
        true
      case SaveMode.Ignore =>
        if (!exists) { createNew(); true } else false
    }
    // branch-targeted writes (Iceberg's write `branch` option): the
    // whole write runs inside withBranch — append/overwrite commit to
    // the branch's staged line, main untouched until publish
    val wrote = parameters.get("branch").map(_.trim) match {
      case Some(b) =>
        require(exists,
          s"branch writes need an existing snapshot table at $table")
        require(mode == SaveMode.Append || mode == SaveMode.Overwrite,
          "branch writes support Append and Overwrite modes only")
        SnapshotTable.withBranch(spark, table, b)(runWrite())
      case None => runWrite()
    }
    // a catalog name registered at this location holds a cached,
    // snapshot-pinned relation — drop the caches so the next SELECT on
    // any such name resolves the fresh version. Blunt (all cached
    // relations re-resolve once) but only after an ACTUAL commit;
    // per-location targeting would need a full catalog enumeration.
    if (wrote) GraftShim.v1Catalog(spark).invalidateAllCachedTables()
    GraftDataSource.relationFor(spark, table, None)
  }

  /** partitionCol '<c>' (single) or partitionCols 'a,b' (multi) on
    * the CREATE paths; appends inherit the table's declared layout.
    * `df.write.partitionBy(...)` also lands here: DataFrameWriter
    * passes v1 partitioning as the JSON-encoded `__partition_columns`
    * option (DataSourceUtils.PARTITIONING_COLUMNS_KEY) — dropping it
    * silently would create an unpartitioned table the user explicitly
    * asked to partition.
    */
  /** `identityCol 'id'` (+ optional `identitySort 'a,b'`) on the
    * CREATE paths — the SQL face of [[SnapshotTable.createWithIdentity]]
    * (the reference declares identity in DDL: `id INTEGER PRIMARY KEY
    * AUTOINCREMENT`, database.py:78). Appends by any surface then draw
    * ids from the manifest high-water mark.
    */
  /** `OPTIONS (bucketCol 'c[,d]', bucketN '8')` on the create surfaces
    * — a comma list declares multi-column buckets.
    */
  private def bucketOf(parameters: Map[String, String])
      : Option[(Seq[String], Int)] =
    parameters.get("bucketCol").map { c =>
      val n = parameters.getOrElse("bucketN",
        throw new IllegalArgumentException(
          "bucketCol needs bucketN (the bucket count)"))
      require(scala.util.Try(n.trim.toInt).isSuccess && n.trim.toInt > 0,
        s"bucketN must be a positive integer, got '$n'")
      (c.split(',').map(_.trim).filter(_.nonEmpty).toSeq, n.trim.toInt)
    }

  private def identityColOf(parameters: Map[String, String])
      : Option[(String, Seq[String])] =
    parameters.get("identityCol").map { c =>
      (c.trim, parameters.get("identitySort")
        .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
        .getOrElse(Nil))
    }

  private def partitionColsOf(parameters: Map[String, String]): Seq[String] = {
    val declared = parameters.get("partitionCols")
      .map(_.split(',').map(_.trim).filter(_.nonEmpty).toSeq)
      .orElse(parameters.get("partitionCol").map(Seq(_)))
    val writerBy = parameters
      .get(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .PARTITIONING_COLUMNS_KEY)
      .map(org.apache.spark.sql.execution.datasources.DataSourceUtils
        .decodePartitioningColumns)
    (declared, writerBy) match {
      case (Some(d), Some(w)) =>
        require(d == w, s"partitionBy(${w.mkString(", ")}) disagrees " +
          s"with OPTIONS partitionCols '${d.mkString(",")}' — declare " +
          "the layout once")
        d
      case (d, w) => d.orElse(w).getOrElse(Nil)
    }
  }
}

object GraftDataSource {

  /** Parquet that READS like parquet and refuses to WRITE: handed to
    * the HadoopFsRelation so a plain session's
    * InsertIntoHadoopFsRelationCommand (the built-in lowering for
    * `INSERT INTO <v1 file table>`) fails LOUDLY instead of dropping
    * uncommitted parquet files into the table root — files no manifest
    * lists, which readers would never see and expiry would delete:
    * silent data loss. With GraftExtensions on the session the insert
    * is intercepted upstream and lowered onto the atomic append; this
    * guard is for sessions without the extensions.
    */
  final class ReadOnlyParquetFormat extends ParquetFileFormat {
    override def prepareWrite(sparkSession: SparkSession,
        job: org.apache.hadoop.mapreduce.Job,
        options: Map[String, String],
        dataSchema: StructType)
        : org.apache.spark.sql.execution.datasources.OutputWriterFactory =
      throw new UnsupportedOperationException(
        "direct file writes to a graft snapshot table are not supported" +
          " — use df.write.format(\"graft\").mode(\"append\"), " +
          "SnapshotTable.append, or INSERT INTO on a session built " +
          "with graft.GraftExtensions (the atomic, manifest-committed " +
          "paths)")
    override def toString: String = "GraftParquet"
  }

  /** The v1 streaming sink (see [[GraftDataSource.createSink]]):
    * lowers each micro-batch onto the idempotent snapshot commits.
    * The incoming frame is rewrapped as a batch frame over the same
    * physical rows (GraftShim.rewrapBatch — the Delta sink
    * discipline) because the snapshot verbs re-analyze it (align,
    * constraint observation, staging write).
    */
  final class GraftSink(spark: SparkSession, table: String,
      queryKey: String, complete: Boolean, createIfMissing: Boolean,
      mergeSchema: Boolean = false, branch: Option[String] = None)
      extends org.apache.spark.sql.execution.streaming.Sink {

    // STREAMING WAP (Iceberg's write-to-branch shape): with a `branch`
    // option every micro-batch commits to the branch's staged line —
    // the batch-id idempotency mark rides the BRANCH manifests, so
    // replays stay exactly-once on the branch, and main sees nothing
    // until publishBranch
    override def addBatch(batchId: Long, data: DataFrame): Unit =
      branch match {
        case Some(b) =>
          SnapshotTable.withBranch(spark, table, b)(addBatch0(batchId,
            data))
        case None => addBatch0(batchId, data)
      }

    private def addBatch0(batchId: Long, data: DataFrame): Unit = {
      val batch = GraftShim.rewrapBatch(data)
      if (SnapshotTable.currentVersion(spark, table) == 0) {
        require(createIfMissing,
          s"no snapshot table at $table — create it first (or pass " +
            "option createIfMissing 'true' to bootstrap from the first " +
            "batch's schema)")
        // bootstrap an EMPTY v1 from the stream schema, then commit
        // the batch through the normal idempotent path: if a crash
        // lands between the two commits, the replay finds the table
        // existing and the batch id absent — it commits exactly once
        SnapshotTable.create(spark, table,
          spark.createDataFrame(spark.sparkContext.emptyRDD[Row],
            batch.schema), numFiles = 1)
      }
      // ctx-aware: inside a branch sink both the replay-skip check and
      // the alignment target are the BRANCH head
      val snap = SnapshotTable.currentSnapshot(spark, table)
      // the replay-skip check runs BEFORE alignment: an
      // already-committed batch id must be skipped even when the
      // table's schema evolved since it committed — aligning first
      // would error on the (now-narrower) replayed frame and kill the
      // restarted query instead of letting it advance past the
      // checkpoint. The verb re-checks under its own snapshot read,
      // so a lost race here only costs the skipped alignment.
      if (snap.meta.get(s"lastBatchId.$queryKey")
          .exists(_.toLong >= batchId)) return
      if (mergeSchema)
        // the verb aligns internally against the evolved schema —
        // evolution and the batch (and its id) are ONE atomic commit
        SnapshotTable.commitStreamBatch(spark, table, batch, batchId,
          queryKey, mergeSchema = true)
      else {
        // same align-by-name + cast discipline as every other write
        // path (identity tables: the id column is assigned at commit,
        // so the stream frame is not required to carry it)
        val aligned = GraftDml.alignByName(batch,
          SnapshotTable.writeSchemaFor(snap, batch),
          s"stream batch $batchId", allowSubset = false)
        if (complete)
          SnapshotTable.replaceStreamBatch(spark, table, aligned,
            batchId, queryKey)
        else
          SnapshotTable.commitStreamBatch(spark, table, aligned, batchId,
            queryKey)
      }
      // cached catalog relations pinned to the pre-batch snapshot
      // re-resolve (same discipline as the batch writer path)
      GraftShim.v1Catalog(spark).invalidateAllCachedTables()
    }
    override def toString: String =
      s"GraftSink[$table, ${if (complete) "complete" else "append"}]"
  }

  /** The relation for one pinned snapshot. DV-free: the
    * manifest-FileIndex HadoopFsRelation (pruned, vectorized, codegen).
    * DV-bearing: the merge-on-read scan pre-planned as an opaque
    * row-stream relation — no file skipping, always correct.
    */
  private[graft] def relationFor(spark: SparkSession, table: String,
      version: Option[Long]): BaseRelation = {
    // metadata-tier lazy planning: only the chain HEADER is parsed
    // here; a grouped (two-tier) anchor's file entries load per query,
    // label-pruned inside the FileIndex
    val v = version.getOrElse(SnapshotTable.currentVersion(spark, table))
    val plan = SnapshotTable.scanPlanAt(spark, table, v)
    val header = plan.header
    if (header.deleteFiles.isEmpty &&
        SnapshotTable.colMapOf(header).isEmpty && !plan.liveDefaults) {
      val index = SnapshotFileIndex.lazily(spark, table, plan)
      HadoopFsRelation(
        location = index,
        partitionSchema = StructType(Nil),
        // an MV's hidden maintained-state columns are not in the
        // reader schema (visibleSchema) — by-name parquet resolution
        // never requests them
        dataSchema = SnapshotTable.visibleSchema(header),
        bucketSpec = TableLayout.of(header).buckets,
        fileFormat = new ReadOnlyParquetFormat,
        options = Map.empty)(spark)
    } else new DvRelation(spark, table, header.version,
      SnapshotTable.visibleSchema(header))
  }

  /** Fallback scan for DV-bearing snapshots: executes the DV-applying
    * read ([[SnapshotTable.read]]) and hands its InternalRow stream to
    * the v1 scan node (`needConversion = false` is the v1 contract for
    * sources that already produce InternalRows). The anti join inside
    * still broadcasts the delete-sized side; what is lost vs the
    * FileIndex path is manifest file-skipping above the scan — bounded
    * in time, because compact() purges the vectors and the relation
    * class flips back.
    */
  /** Branch reads through the provider (`option("branch", name)`):
    * the head manifest is outside the main version chain, so the scan
    * wraps [[SnapshotTable.readBranch]] the way DV-bearing snapshots
    * wrap the anti-join read — correct always; manifest file-skipping
    * above the scan does not apply to branch reads.
    */
  final class BranchRelation(spark: SparkSession, table: String,
      branch: String, override val schema: StructType)
      extends BaseRelation with TableScan {
    override def sqlContext: SQLContext = spark.sqlContext
    override def needConversion: Boolean = false
    override def buildScan(): RDD[Row] =
      SnapshotTable.readBranch(spark, table, branch)
        .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }

  final class DvRelation(spark: SparkSession, table: String,
      pinnedVersion: Long, override val schema: StructType)
      extends BaseRelation with TableScan {
    override def sqlContext: SQLContext = spark.sqlContext
    override def needConversion: Boolean = false
    // real manifest-derived size, not defaultSizeInBytes: without it a
    // small DV-bearing dimension could never auto-broadcast. Data-file
    // bytes are an upper bound on the DV-applied rows — safe for the
    // broadcast-threshold check in the same way parquet's raw size is
    override lazy val sizeInBytes: Long =
      SnapshotTable.dataBytesOf(spark, table,
        SnapshotTable.readManifest(spark, table, pinnedVersion))
    override def buildScan(): RDD[Row] =
      SnapshotTable.read(spark, table, Some(pinnedVersion))
        .queryExecution.toRdd.asInstanceOf[RDD[Row]]
  }
}
