package graft.sources

import org.apache.spark.sql.{Column, DataFrame, GraftShim, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedRelation
import org.apache.spark.sql.catalyst.expressions.{Alias, AttributeReference, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, AggregateFunction, Average, Complete, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, LogicalPlan}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DecimalType, DoubleType, FloatType, NumericType}

/** NAMED MATERIALIZED VIEWS over the change feed — the warehouse
  * operator loop `CREATE MATERIALIZED VIEW … / REFRESH` closed the way
  * `graft_optimize` closed compaction. An MV is itself a snapshot
  * table (time travel, refs, catalog registration all apply) whose
  * manifest records its definition (`mvQuery`, with the source table
  * named `__source__`), its source path (`mvSource`) and the exactly-
  * once refresh high-water mark (`cdcUpTo` — the same monotone-mark
  * discipline the streaming sink uses; the mark commits ATOMICALLY
  * with the refreshed contents, so a crashed/replayed refresh can
  * never double-apply a delta).
  *
  * Refresh is INCREMENTAL whenever the definition is a maintainable
  * single-source aggregate — group columns plus any mix of `count(*)`,
  * `count(x)`, `sum(x)`, `avg(x)`, `min(x)`, `max(x)` over
  * `FROM __source__ [WHERE …] GROUP BY …` — by running the UNCHANGED
  * query text over the insert- and delete-sides of
  * [[SnapshotTable.changesBetween]]'s netted delta and merging per
  * aggregate column. Counts and sums net as `old + ins − del`; `avg`
  * is REWRITTEN to maintained (sum, count) auxiliary state (the ratio
  * is emitted, never netted); `min`/`max` merge `least`/`greatest`
  * against the insert side and RECOMPUTE only the groups the delete
  * side touched (churn-sized on the group dimension — a deleted row
  * can raise a min, which no monotone merge can recover). The delta
  * frame is CHURN-sized — the refresh never re-reads the source
  * table. Hidden auxiliary columns (prefix `__graft_mv_`) carry the
  * maintained state: a per-group liveness `count(*)` (dead groups
  * drop without the user declaring one), a non-null count per `sum`
  * (a group whose measures went all-NULL emits NULL, exactly like the
  * recompute — never a spurious 0), and the (sum, count) pair per
  * `avg`. [[SnapshotTable.read]] strips them, so the MV's visible
  * schema is its definition's schema.
  *
  * CORRECTNESS RAILS (each oracle- or suite-pinned):
  *  - the projected group columns must be EXACTLY the grouping
  *    expressions (1:1) — `GROUP BY a, b` projecting only `a` holds
  *    one row per (a, b) and a merge keyed on [a] alone would be
  *    many-to-many; such definitions take the full-recompute path.
  *  - group keys merge with NULL-SAFE equality (`<=>`): GROUP BY
  *    treats NULL as one group, and a null-unsafe join would split it
  *    into separate partially-netted rows.
  *  - FLOAT/DOUBLE sums net with one IEEE rounding per refresh, which
  *    compounds without bound across refreshes — every
  *    [[RebaseEvery]]-th refresh of such a definition runs a FULL
  *    recompute (reported as mode "full"), so the drift is bounded by
  *    a handful of roundings instead of the MV's lifetime.
  *  - DISTINCT aggregates, FILTER clauses, decimal `avg` (its
  *    division scale is not reproducible from netted state), joins
  *    and multi-source definitions are not maintainable under deletes
  *    and always recompute in full, same mark discipline.
  *
  * Reference scope: the reference engine re-runs every query from
  * scratch against SQLite (database.py:66-71 `pd.read_sql`); a named
  * incrementally-maintained view is what its workloads need at 100 TB,
  * where "recompute the aggregate" means re-reading the corpus.
  */
object MaterializedView {

  private val SourceToken = "__source__"

  /** Hidden maintained-state columns live under this prefix; the
    * definition may not project names in it, and snapshot reads of an
    * MV drop it.
    */
  private[sources] val AuxPrefix = "__graft_mv_"
  private val LiveCol = AuxPrefix + "live"

  /** A definition netting FLOAT/DOUBLE sums full-recomputes every
    * N-th refresh, bounding IEEE drift to at most N−1 roundings.
    */
  private[graft] val RebaseEvery = 8

  /** Row-count-derived staging width: MV contents are aggregate-sized
    * (usually one file), but a wide group domain at 100× must not
    * funnel through a fixed handful of tasks — ~2M rows per staged
    * file, capped well under the shuffle-partition count.
    */
  private[graft] def stagingPartitions(rows: Long,
      rowsPerFile: Long = 2L * 1024 * 1024): Int =
    math.max(1L, math.min(256L, (rows + rowsPerFile - 1) / rowsPerFile))
      .toInt

  /** One output column of a maintainable definition (expressions are
    * binding-local — re-derived for each bound frame).
    */
  private sealed trait ColSpec { def name: String }
  private case class GroupCol(name: String, expr: Expression)
    extends ColSpec
  private case class CountStarCol(name: String) extends ColSpec
  private case class CountCol(name: String, child: Expression)
    extends ColSpec
  private case class SumCol(name: String, child: Expression,
      floaty: Boolean) extends ColSpec
  private case class AvgCol(name: String, child: Expression,
      floaty: Boolean) extends ColSpec
  private case class MinCol(name: String, child: Expression)
    extends ColSpec
  private case class MaxCol(name: String, child: Expression)
    extends ColSpec

  private final case class MvShape(cols: Seq[ColSpec]) {
    def groupCols: Seq[String] =
      cols.collect { case GroupCol(n, _) => n }
    def hasMinMax: Boolean = cols.exists {
      case _: MinCol | _: MaxCol => true; case _ => false }
    def floaty: Boolean = cols.exists {
      case SumCol(_, _, f) => f
      case AvgCol(_, _, f) => f
      case _ => false
    }
    /** Names of the hidden maintained-state columns, aux-build order. */
    def auxNames: Seq[String] = LiveCol +: cols.flatMap {
      case SumCol(n, _, _) => Seq(AuxPrefix + "nn_" + n)
      case AvgCol(n, _, _) =>
        Seq(AuxPrefix + "s_" + n, AuxPrefix + "c_" + n)
      case _ => Nil
    }
  }

  /** Bind the definition's source relation to `source`. The relation
    * is matched by `token` — `__source__` for the TVF surface, or the
    * ORIGINAL source identifier for `CREATE MATERIALIZED VIEW … AS
    * SELECT … FROM name` (stored as `mvToken`, so the definition text
    * stays exactly what the operator wrote while the MV remains bound
    * to the resolved PATH, immune to later catalog re-pointing).
    */
  private def bind(spark: SparkSession, query: String,
      source: DataFrame, token: String): (DataFrame, String) = {
    val vn = "graft_mv_src_" +
      java.util.UUID.randomUUID().toString.replace("-", "")
    source.createOrReplaceTempView(vn)
    val parsed = GraftShim.parsePlan(spark, query)
    val tokenParts = token.toLowerCase.split('.').toSeq
    var found = false
    val bound = parsed.transform {
      case r: UnresolvedRelation
          if r.multipartIdentifier.map(_.toLowerCase) == tokenParts ||
            r.multipartIdentifier.map(_.toLowerCase) ==
              Seq(SourceToken) =>
        found = true
        UnresolvedRelation(Seq(vn))
    }
    require(found,
      s"the MV definition must read FROM $token, got: $query")
    (GraftShim.ofRows(spark, bound), vn)
  }

  private def dropView(spark: SparkSession, vn: String): Unit =
    spark.catalog.dropTempView(vn)

  private def isFloat(dt: DataType): Boolean =
    dt == DoubleType || dt == FloatType

  /** Classify the ANALYZED definition: Some(shape) when every output
    * is a group key or a maintainable aggregate AND the projected
    * group columns are exactly the grouping expressions (1:1, the r19
    * many-to-many-merge fix) — the incremental-refresh contract.
    * `min`/`max` additionally require every grouping expression to be
    * a bare SOURCE attribute (the delete-touched-group recompute
    * filters the source by those columns; an expression or
    * derived-subquery key has no sound source filter).
    */
  private def classify(plan: LogicalPlan): Option[MvShape] = plan match {
    case agg @ Aggregate(groupingExprs, aggs, _, _) =>
      val specs: Seq[Option[ColSpec]] = aggs.map {
        case a: AttributeReference => Some(GroupCol(a.name, a))
        case Alias(AggregateExpression(fn, Complete, false, None, _),
            name) => fn match {
          case Count(children)
              if children.isEmpty ||
                children.forall(_.isInstanceOf[Literal]) =>
            Some(CountStarCol(name))
          case Count(Seq(c)) => Some(CountCol(name, c))
          case s: Sum if s.child.dataType.isInstanceOf[NumericType] =>
            Some(SumCol(name, s.child, isFloat(s.child.dataType)))
          case a: Average
              if a.child.dataType.isInstanceOf[NumericType] &&
                !a.child.dataType.isInstanceOf[DecimalType] =>
            Some(AvgCol(name, a.child, isFloat(a.child.dataType)))
          case m: Min => Some(MinCol(name, m.child))
          case m: Max => Some(MaxCol(name, m.child))
          case _ => None
        }
        case Alias(child, name)
            if !child.exists(_.isInstanceOf[AggregateExpression]) =>
          Some(GroupCol(name, child))
        case _ => None
      }
      if (specs.exists(_.isEmpty)) return None
      val cols = specs.flatten
      if (cols.map(_.name).distinct.size != cols.size) return None
      if (cols.exists(_.name.startsWith(AuxPrefix))) return None
      val groupOut = cols.collect { case g: GroupCol => g }
      // 1:1 — every grouping expression appears as a projected group
      // column and nothing else is projected as one
      val remaining =
        scala.collection.mutable.ArrayBuffer(groupingExprs: _*)
      val bijective = groupOut.forall { g =>
        val i = remaining.indexWhere(_.semanticEquals(g.expr))
        i >= 0 && { remaining.remove(i); true }
      } && remaining.isEmpty
      if (!bijective) return None
      val hasMinMax = cols.exists {
        case _: MinCol | _: MaxCol => true; case _ => false }
      // a GLOBAL min/max under deletes recomputes over the whole
      // source anyway — classify it full rather than pretend
      if (hasMinMax && groupOut.isEmpty) return None
      if (hasMinMax) {
        // the recompute filter needs the group keys to BE source
        // columns (same exprId as a leaf-relation attribute — a
        // same-named derivation in a subquery gets a fresh id and is
        // correctly rejected)
        val leafIds = plan.collectLeaves().flatMap(_.output)
          .map(_.exprId).toSet
        val safe = groupOut.forall(_.expr match {
          case a: AttributeReference => leafIds.contains(a.exprId)
          case _ => false
        })
        if (!safe) return None
      }
      Some(MvShape(cols))
    case _ => None
  }

  /** The bound definition EXTENDED with its hidden maintained-state
    * aggregates (liveness count, per-sum non-null counts, per-avg
    * (sum, count)) — appended to the analyzed Aggregate so one pass
    * computes visible and hidden state together.
    */
  private def withAux(spark: SparkSession, bound: DataFrame,
      shape: MvShape): DataFrame = {
    val analyzed = bound.queryExecution.analyzed
    val agg = analyzed match {
      case a: Aggregate => a
      case other => throw new IllegalStateException(
        s"maintainable MV definition must analyze to an Aggregate, " +
          s"got ${other.nodeName}")
    }
    def mk(fn: AggregateFunction, name: String): NamedExpression =
      Alias(AggregateExpression(fn, Complete, isDistinct = false, None,
        NamedExpression.newExprId), name)()
    val extras: Seq[NamedExpression] =
      mk(Count(Literal(1)), LiveCol) +: shape.cols.flatMap {
        case SumCol(n, c, _) =>
          Seq(mk(Count(c), AuxPrefix + "nn_" + n))
        case AvgCol(n, c, _) =>
          Seq(mk(new Sum(c), AuxPrefix + "s_" + n),
            mk(Count(c), AuxPrefix + "c_" + n))
        case _ => Nil
      }
    GraftShim.ofRows(spark,
      agg.copy(aggregateExpressions = agg.aggregateExpressions ++ extras))
  }

  private def bq(c: String): Column = col(s"`$c`")

  private def stage(result: DataFrame, mvPath: String): Seq[String] =
    SnapshotTable.stageBatch(
      result.repartition(stagingPartitions(result.count())), mvPath)

  /** Create the MV at `mvPath`: materialize the definition against the
    * CURRENT source version and commit contents + definition + mark in
    * ONE manifest. Maintainable definitions materialize WITH their
    * hidden state so the first refresh can already net.
    */
  def create(spark: SparkSession, mvPath: String, sourcePath: String,
      query: String): Long =
    create(spark, mvPath, sourcePath, query, SourceToken)

  def create(spark: SparkSession, mvPath: String, sourcePath: String,
      query: String, token: String): Long = {
    require(SnapshotTable.currentVersion(spark, mvPath) == 0,
      s"$mvPath already has committed snapshots")
    val cur = SnapshotTable.currentVersion(spark, sourcePath)
    require(cur >= 1, s"no committed snapshot at $sourcePath")
    val (df, vn) = bind(spark, query,
      SnapshotTable.read(spark, sourcePath, Some(cur)), token)
    try {
      require(!df.columns.exists(_.startsWith(AuxPrefix)),
        s"MV definitions may not project columns under $AuxPrefix")
      val mat = classify(df.queryExecution.analyzed) match {
        case Some(shape) => withAux(spark, df, shape)
        case None => df
      }
      val result = mat.localCheckpoint()
      SnapshotTable.commitManifest(spark, mvPath,
        SnapshotTable.Snapshot(0L, result.schema, stage(result, mvPath),
          Map("mvSource" -> sourcePath,
            "mvQuery" -> java.net.URLEncoder.encode(query, "UTF-8"),
            "cdcUpTo" -> cur.toString,
            "mvIncrRuns" -> "0") ++
            (if (token == SourceToken) Map.empty[String, String]
             else Map("mvToken" ->
               java.net.URLEncoder.encode(token, "UTF-8")))), 0L)
    } finally dropView(spark, vn)
  }

  /** Refresh the MV to the source's current version. Returns
    * (mode, from version, to version, new MV version): mode is "noop"
    * (already current), "incremental" (netted delta merged) or "full"
    * (definition not maintainable, hidden state missing, or a
    * float-drift rebase — recomputed).
    */
  def refresh(spark: SparkSession, mvPath: String)
      : (String, Long, Long, Long) = {
    val snap = SnapshotTable.currentSnapshot(spark, mvPath)
    val source = snap.meta.getOrElse("mvSource",
      throw new IllegalArgumentException(
        s"$mvPath is not a materialized view (no mvSource)"))
    val query = java.net.URLDecoder.decode(
      snap.meta("mvQuery"), "UTF-8")
    val token = snap.meta.get("mvToken")
      .map(java.net.URLDecoder.decode(_, "UTF-8"))
      .getOrElse(SourceToken)
    val upTo = snap.meta.getOrElse("cdcUpTo", "0").toLong
    val incrRuns = snap.meta.getOrElse("mvIncrRuns", "0").toLong
    val cur = SnapshotTable.currentVersion(spark, source)
    if (cur == upTo) return ("noop", upTo, cur, snap.version)
    require(cur > upTo, s"source $source moved backwards? " +
      s"mark $upTo, current $cur")

    // shape-check against the CURRENT source schema (cheap: analysis
    // only, nothing materializes)
    val (probe, vnProbe) = bind(spark, query,
      SnapshotTable.read(spark, source, Some(cur)), token)
    val shape =
      try classify(probe.queryExecution.analyzed)
      finally dropView(spark, vnProbe)

    val old = SnapshotTable.readCurrentWithAux(spark, mvPath)
    val incremental = shape.filter { sh =>
      // every maintained column present in the stored state (an MV
      // created before the shape became maintainable, or whose
      // definition's aux set changed, upgrades via one full pass) —
      // and no float-drift rebase due
      val required = sh.cols.map(_.name) ++ sh.auxNames
      old.columns.toSet == required.toSet &&
        !(sh.floaty && incrRuns + 1 >= RebaseEvery)
    }

    val (mode, result: DataFrame) = incremental match {
      case Some(sh) => ("incremental",
        incrementalResult(spark, mvPath, source, query, token, sh, old,
          upTo, cur))
      case None =>
        val (df, vn) = bind(spark, query,
          SnapshotTable.read(spark, source, Some(cur)), token)
        try {
          // re-classify THIS binding: aux expressions must reference
          // this frame's attributes, not the probe's
          val mat = classify(df.queryExecution.analyzed) match {
            case Some(sh) => withAux(spark, df, sh)
            case None => df
          }
          ("full", mat.localCheckpoint())
        } finally dropView(spark, vn)
    }
    val nextRuns =
      if (mode == "incremental" && shape.exists(_.floaty))
        incrRuns + 1
      else 0L
    val v = SnapshotTable.commitManifest(spark, mvPath,
      SnapshotTable.Snapshot(snap.version, result.schema,
        stage(result, mvPath), snap.meta + ("cdcUpTo" -> cur.toString) +
          ("mvIncrRuns" -> nextRuns.toString)), snap.version, Some(snap))
    (mode, upTo, cur, v)
  }

  /** The churn-sized merge: the unchanged query text over each side of
    * the netted delta, then a NULL-SAFE three-way full-outer join on
    * the group keys, netting counts/sums (`old + ins − del`), emitting
    * avg ratios from maintained (sum, count), merging min/max against
    * inserts and recomputing only the delete-touched groups.
    */
  private def incrementalResult(spark: SparkSession, mvPath: String,
      source: String, query: String, token: String, shape: MvShape,
      old: DataFrame, upTo: Long, cur: Long): DataFrame = {
    val delta = SnapshotTable.changesBetween(spark, source, upTo, cur)
    val srcCols = delta.columns.filterNot(_ == "change_type")
      .map(c => col(s"`$c`")).toIndexedSeq
    val (insDf0, vnIns) = bind(spark, query,
      delta.filter(col("change_type") === "insert").select(srcCols: _*),
      token)
    val (delDf0, vnDel) = bind(spark, query,
      delta.filter(col("change_type") === "delete").select(srcCols: _*),
      token)
    val views = scala.collection.mutable.ArrayBuffer(vnIns, vnDel)
    try {
      val insSh = classify(insDf0.queryExecution.analyzed).getOrElse(
        throw new IllegalStateException(
          "delta-side classification diverged from the probe"))
      val delSh = classify(delDf0.queryExecution.analyzed).get
      val ins = withAux(spark, insDf0, insSh)
      val del = withAux(spark, delDf0, delSh)

      val g = shape.groupCols
      val outCols = old.columns.toIndexedSeq // definition order + aux
      val valueCols = outCols.filterNot(g.contains)
      val O = "__graft_mvo_"; val I = "__graft_mvi_"
      val D = "__graft_mvd_"; val K = "__graft_mvk_"
      def tag(df: DataFrame, t: String): DataFrame =
        df.select(g.map(c => bq(c).as(t + c)) ++
          valueCols.map(c => bq(c).as(t + c)): _*)
      def nullSafe(a: String, b: String): Column =
        g.map(c => col(a + c) <=> col(b + c)).reduce(_ && _)
      // GROUPED: old ⟗ ins ⟗ del on NULL-SAFE keys; the surviving key
      // is the coalesce (NULL group keys match and stay one group).
      // GLOBAL (no group columns): each side is exactly one row — the
      // aggregate-over-anything row a global GROUP BY always yields —
      // so the three-way merge is a 1×1×1 cross join, and the row is
      // kept even when it nets dead (a recompute also yields one row).
      val all =
        if (g.isEmpty)
          tag(old, O).crossJoin(tag(ins, I)).crossJoin(tag(del, D))
        else {
          val oi = tag(old, O)
            .join(tag(ins, I), nullSafe(O, I), "full_outer")
            .select(
              g.map(c => coalesce(col(O + c), col(I + c)).as(K + c)) ++
                valueCols.flatMap(c => Seq(col(O + c), col(I + c))): _*)
          oi.join(tag(del, D), nullSafe(K, D), "full_outer")
        }

      val types: Map[String, DataType] =
        old.schema.fields.map(f => f.name -> f.dataType).toMap
      def net(c: String): Column = {
        val zero = lit(0).cast(types(c))
        (coalesce(col(O + c), zero) + coalesce(col(I + c), zero) -
          coalesce(col(D + c), zero)).cast(types(c))
      }
      val byName: Map[String, ColSpec] =
        shape.cols.map(s => s.name -> s).toMap
      def emit(c: String): Column = byName.get(c) match {
        case Some(SumCol(n, _, _)) =>
          // NULL-preserving: a group whose measures are all NULL sums
          // to NULL on recompute, so the netted value only stands
          // while the maintained non-null count is positive
          when(net(AuxPrefix + "nn_" + n) > 0, net(n))
            .otherwise(lit(null).cast(types(n))).as(n)
        case Some(AvgCol(n, _, _)) =>
          val s = net(AuxPrefix + "s_" + n)
          val cnt = net(AuxPrefix + "c_" + n)
          when(cnt > 0, s.cast(DoubleType) / cnt.cast(DoubleType))
            .otherwise(lit(null).cast(types(n))).as(n)
        case Some(MinCol(n, _)) =>
          least(col(O + n), col(I + n)).cast(types(n)).as(n)
        case Some(MaxCol(n, _)) =>
          greatest(col(O + n), col(I + n)).cast(types(n)).as(n)
        case _ => net(c).as(c) // counts and the hidden additive state
      }
      val merged = all.select(outCols.map { c =>
        if (g.contains(c)) coalesce(col(K + c), col(D + c)).as(c)
        else emit(c)
      }: _*)

      val out =
        if (!shape.hasMinMax) merged
        else {
          // groups the DELETE side touched: their min/max cannot be
          // merged monotonically — recompute exactly those groups from
          // the current source (IO ∝ touched groups via the pushed-down
          // semi-join keys, never the whole table's group domain)
          val T = "__graft_mvt_"
          val touched = del.select(g.map(c => bq(c).as(T + c)): _*)
            .distinct().localCheckpoint()
          def touchCond(df: DataFrame): Column =
            g.map(c => df(s"`$c`") <=> col(T + c)).reduce(_ && _)
          val untouched = merged.join(broadcast(touched),
            touchCond(merged), "left_anti")
          val srcCur = SnapshotTable.read(spark, source, Some(cur))
          val filtered = srcCur.join(broadcast(touched),
            touchCond(srcCur), "left_semi")
          val (recDf0, vnRec) = bind(spark, query, filtered, token)
          views += vnRec
          val recSh = classify(recDf0.queryExecution.analyzed).get
          val rec = withAux(spark, recDf0, recSh)
            .select(outCols.map(bq): _*)
          untouched.select(outCols.map(bq): _*).unionByName(rec)
        }
      // materialize BEFORE the views drop (localCheckpoint also
      // decouples the commit from the temp-view lifetimes); dead
      // groups drop via the maintained liveness count — except the
      // global-aggregate row, which a recompute would also keep
      val live =
        if (g.isEmpty) out else out.filter(col(s"`$LiveCol`") > 0)
      live.localCheckpoint()
    } finally views.foreach(dropView(spark, _))
  }
}
