package graft.engine

import graft.catalog.TableIdent
import org.apache.spark.sql.{Column, DataFrame, GraftShims, Row, SparkSession}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{Alias, And, Attribute, AttributeReference, AttributeSet, EqualNullSafe, EqualTo, Expression, Literal, NamedExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Average, Count, Max, Min, Sum}
import org.apache.spark.sql.catalyst.plans.{FullOuter, Inner, LeftOuter, LeftSemi, RightOuter}
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Distinct, Filter, Join, JoinHint, LogicalPlan, Project, SubqueryAlias}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions.{col, lit, struct, when}
import org.apache.spark.storage.StorageLevel

/** MATERIALIZED views over the engine: the MV is an ordinary catalog
  * TABLE carrying its defining SQL in table properties, refreshed
  * exactly-once through the same checkpoint-in-snapshot construct
  * [[ChangelogApply]] uses. BEYOND both the reference (no views at
  * all) and Spark (which parses `CREATE MATERIALIZED VIEW` into a
  * logical node, `CreateMaterializedViewAsSelect`, that NO built-in
  * session catalog executes).
  *
  * One detector list ([[detect]]) maps the analyzed defining query to
  * an [[MvShape]], cheapest tick first; `create` and `refresh` both go
  * through it, and the shape's kind is the DESCRIBE-visible
  * [[RefreshModeProp]]. Every refresh commits the new content and the
  * advanced source checkpoints ATOMICALLY (a replayed tick is a
  * no-op), and every incremental tick is churn-sized twice: its
  * COMPUTE reads the delta plus the touched keys' files, and its WRITE
  * equality-deletes the touched keys and lands their new rows
  * ([[GraftTable.replaceKeys]]) — a 10⁹-key MV with 100 touched keys
  * writes ~100 rows. There are three tick kinds:
  *  - FOLD ([[FoldShape]], "incremental"): group-by keys + any mix of
  *    count(*) / count(v) / sum(v) / avg(v) / min(v) / max(v) /
  *    count(distinct v) over ONE graft table with an optional
  *    deterministic WHERE — the source's CHANGELOG folds into the
  *    stored rows through the [[ChangelogApply]] arithmetic;
  *  - JOIN FOLD ([[JoinShape]], "incremental"): the same aggregates
  *    over an inner single-attribute equi-join of two graft tables,
  *    folded by the delta rules ΔA⋈B, A⋈ΔB, ΔA⋈ΔB;
  *  - REBUILD ([[RecomputeOnTouch]], "incremental-rebuild"): the
  *    defining PLAN re-executes over head-pinned sources restricted to
  *    the group keys the deltas touched — HAVING, expressions over
  *    aggregates, DISTINCT, expression (time-bucket) keys, outer joins,
  *    N-ary inner trees, left-deep reporting chains and per-key
  *    windows. One tick loop ([[refreshRebuild]]) owns checkpoints,
  *    deltas and the commit; each shape supplies only its touched-key
  *    cover and its restricted rebuild.
  * Anything else is [[FullRecompute]] ("full"): every refresh is a
  * single CAS-guarded overwrite commit.
  *
  * `create` is the backing table plus one tick: with no checkpoint
  * recorded, a tick populates the MV from scans pinned AT the source
  * heads and records those heads as its checkpoints in the same
  * commit, so the first incremental refresh folds exactly the changes
  * after what the table holds — no create/refresh race window. */
object GraftMaterializedViews {

  /** Times [[RebuildChainShape.affectedSpine]] fell back to widening a
    * moved side's term to the WHOLE spine because the covering prefix
    * carried no spine column (r17 observability; see the call site).
    * Monotonic process-lifetime counter — tests snapshot-and-diff. */
  private[engine] val DegenerateSpineWidenings =
    new java.util.concurrent.atomic.AtomicLong(0L)

  /** Shapes already stderr-logged for degenerate widening — the
    * counter above stays per-occurrence (the metric), but a
    * steady-state MV whose shape legitimately projects the spine away
    * would otherwise repeat the same line on EVERY tick (r18: log
    * once per shape+level per process). */
  private val DegenerateSpineLogged =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  val MarkerProp = "graft.mv"
  val SqlProp = "graft.mv.sql"
  val DefCatProp = "graft.mv.default-catalog"
  val DefNsProp = "graft.mv.default-namespace"
  /** DESCRIBE-visible routing report: "incremental" when the defining
    * query folds through the changelog arithmetic,
    * "incremental-rebuild" when it refreshes by touched-key plan
    * re-execution, "full" when every refresh recomputes. Set at
    * create, re-asserted on each refresh commit. */
  val RefreshModeProp = "graft.mv.refresh-mode"
  private val NsSep = "\u001f"

  /** How a refresh executed — surfaced for observability and specs. */
  sealed trait RefreshMode
  case object Incremental extends RefreshMode
  case object Full extends RefreshMode
  case object NoOp extends RefreshMode

  /** A detected defining-query shape: what `create` registers as the
    * refresh mode and how every tick refreshes the MV. */
  private[engine] sealed trait MvShape {
    /** The [[RefreshModeProp]] value this shape registers. */
    def mode: String
    /** Positional rename of the OUT side: detection labels columns
      * with the QUERY's output names, but the MV's backing table may
      * carry user-declared names (`CREATE MATERIALIZED VIEW mv (k, n)
      * AS SELECT key, count(*) …`) — reading and writing that table
      * must use the declared names. */
    def withOutNames(declared: Seq[String]): MvShape
  }

  /** Out of every incremental grammar: each tick recomputes the whole
    * defining query. */
  private[engine] final case class FullRecompute(
      analyzed: LogicalPlan, declaredNames: Seq[String]) extends MvShape {
    def mode: String = "full"
    def withOutNames(declared: Seq[String]): FullRecompute = copy(declaredNames = declared)
  }

  // ------------------------------------------------------- detection
  /** THE detector list, in order — cheaper ticks win: the arithmetic
    * folds first, then the rebuild shapes (one table, two tables, an
    * all-inner N-ary tree, a left-deep outer chain, a per-key window),
    * then the full recompute. The rebuild detectors' grammars are
    * disjoint (by relation count and by the peeled top node), so only
    * the fold-before-rebuild order decides anything. */
  private[engine] def detect(spark: SparkSession, analyzed: LogicalPlan): MvShape =
    Iterator[(SparkSession, LogicalPlan) => Option[MvShape]](
      shapeOf, joinShapeOf, rebuildExprShapeOf, rebuildJoinShapeOf,
      rebuildMultiJoinShapeOf, rebuildChainShapeOf, rebuildWindowExprShapeOf)
      .flatMap(_(spark, analyzed)).nextOption()
      .getOrElse(FullRecompute(analyzed, analyzed.output.map(_.name)))

  // ----------------------------------------------------------- create
  private[engine] def create(
      spark: SparkSession,
      catalog: GraftSparkCatalog,
      id: Identifier,
      userCols: Seq[String],
      partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
      query: LogicalPlan,
      originalText: String,
      ifNotExists: Boolean,
      properties: Map[String, String]): Unit = {
    if (catalog.tableExists(id)) {
      if (ifNotExists) return
      throw new org.apache.spark.sql.catalyst.analysis.TableAlreadyExistsException(id)
    }
    val analyzed = spark.sessionState.executePlan(query).analyzed
    if (userCols.nonEmpty && userCols.size != analyzed.output.size)
      throw new IllegalArgumentException(
        s"materialized view column list has ${userCols.size} names but query " +
          s"produces ${analyzed.output.size} columns")
    val fields = analyzed.output.zipWithIndex.map { case (attr, i) =>
      org.apache.spark.sql.types.StructField(
        userCols.lift(i).getOrElse(attr.name), attr.dataType, attr.nullable)
    }
    val mgr = spark.sessionState.catalogManager
    val shape = detect(spark, analyzed).withOutNames(fields.map(_.name))
    val props = properties ++ Map(
      MarkerProp -> "true",
      SqlProp -> originalText,
      DefCatProp -> mgr.currentCatalog.name(),
      DefNsProp -> mgr.currentNamespace.mkString(NsSep),
      RefreshModeProp -> shape.mode)
    // PARTITIONED BY flows straight through to the backing table: the
    // ticks' commits write through the table's default spec, so a
    // partitioned MV gets partition pruning on its read side for free
    catalog.createTable(id, org.apache.spark.sql.types.StructType(fields),
      partitioning.toArray, props.asJava)
    // pinned cold start: the first tick finds no checkpoint and
    // populates at the source heads, checkpoints in the same commit
    tick(spark, catalog.engineTable(TableIdent(id.namespace().toSeq, id.name())), shape)
  }

  // ---------------------------------------------------------- refresh
  /** One refresh tick of the MV's detected shape: incremental when the
    * MV carries checkpoints for its sources, a full rebuild at the
    * heads otherwise, NoOp when already current. */
  def refresh(
      spark: SparkSession,
      catalog: GraftSparkCatalog,
      ti: TableIdent): RefreshMode = {
    val mv = catalog.engineTable(ti)
    val meta = mv.metadata
    require(meta.properties.get(MarkerProp).contains("true"),
      s"${ti.namespace.mkString(".")}.${ti.name} is not a materialized view")
    val sql = meta.properties.getOrElse(SqlProp, throw new IllegalStateException(
      s"materialized view ${ti.name} lost its defining SQL property"))
    val defCat = meta.properties.get(DefCatProp)
    val defNs = meta.properties.get(DefNsProp)
      .map(_.split(NsSep).toSeq.filter(_.nonEmpty)).getOrElse(Nil)
    val parsed = GraftViewResolution.qualifyRelations(
      spark, spark.sessionState.sqlParser.parsePlan(sql), defCat, defNs)
    val analyzed = spark.sessionState.executePlan(parsed).analyzed
    tick(spark, mv,
      detect(spark, analyzed).withOutNames(meta.currentSchema.fields.map(_.name).toSeq))
  }

  private def tick(spark: SparkSession, mv: GraftTable, shape: MvShape): RefreshMode =
    shape match {
      case fs: FoldShape => refreshFold(spark, mv, fs)
      case js: JoinShape => refreshJoin(spark, mv, js)
      case rs: RecomputeOnTouch => refreshRebuild(spark, mv, rs)
      case FullRecompute(analyzed, declared) =>
        mv.overwriteAll(GraftShims.ofRows(spark, analyzed).toDF(declared: _*),
          mv.metadata.currentSnapshotId, extraProperties = Map(RefreshModeProp -> shape.mode))
        Full
    }

  /** One tick of the single-table [[FoldShape]]: the source changelog
    * since the checkpoint folds into the stored rows of its touched
    * keys; no checkpoint → full recompute at the pinned head. */
  private def refreshFold(spark: SparkSession, mv: GraftTable, shape: FoldShape): RefreshMode = {
    val meta = mv.metadata
    val outNames = meta.currentSchema.fields.map(_.name).toSeq
    val source = shape.sourceTable(spark)
    val srcHead = source.metadata.currentSnapshotId.getOrElse(return NoOp)
    val key = ChangelogApply.ckptKey(shape.sourceName)
    val ckpts = Map(key -> srcHead.toString, RefreshModeProp -> shape.mode)
    meta.properties.get(key).flatMap(_.toLongOption) match {
      case Some(c) if c == srcHead => NoOp
      case Some(c) =>
        val changes = shape.applyFilter(
          source.changelogScan(spark, c, Some(srcHead)))
        def baseAtHead = shape.applyFilter(
          source.scan(spark, source.AtSnapshot(srcHead)))
        // churn-sized COMPUTE and churn-sized WRITE: the previous
        // state is restricted to the touched keys before folding,
        // and the commit equality-deletes those keys + lands the
        // folded rows beside them (GraftTable.replaceKeys) — a
        // tick's added files/records are bounded by churn, never
        // by the MV's row count (overwriteAll would rewrite a
        // 10⁹-key MV for a 100-key delta)
        if (shape.keySrcNames.isEmpty) {
          // GLOBAL aggregate (no GROUP BY): there is no key to
          // replace rows by, and the MV is a single row — the
          // overwrite IS churn-sized
          val folded = shape.applyFold(
            shape.toInternal(mv.scan(spark)), changes, baseAtHead)
          mv.overwriteAll(shape.fromInternal(folded, outNames, mv),
            meta.currentSnapshotId, extraProperties = ckpts)
          return Incremental
        }
        val touched = changes.select(shape.keySrcNames.map(col): _*).distinct()
          .persist(StorageLevel.MEMORY_AND_DISK)
        try {
          // read side prunes too: touched-key bounds prune the MV
          // scan's FILE LISTING at plan time (manifest stats, via
          // scanStatsPruned) and narrow rows inside kept files, so
          // a localized churn reads candidate files, not the MV
          val tb = ChangelogApply.touchedBoundsOf(
            shape.touchedOut(touched), shape.keyOutNames)
          val prevTouched = ChangelogApply.nullSafeJoin(
            shape.toInternal(
              mv.scanStatsPruned(spark, tb.filters).filter(tb.residual)),
            touched, shape.keySrcNames, "left_semi")
          val folded = shape.applyFold(prevTouched, changes, baseAtHead)
          mv.replaceKeys(spark, shape.keyOutNames,
            shape.touchedOut(touched), shape.fromInternal(folded, outNames, mv),
            meta.currentSnapshotId, extraProperties = ckpts)
        } finally touched.unpersist(blocking = false)
        Incremental
      case None =>
        val base = shape.applyFilter(
          source.scan(spark, source.AtSnapshot(srcHead)))
        mv.overwriteAll(shape.recompute(base, outNames),
          meta.currentSnapshotId, extraProperties = ckpts)
        Full
    }
  }

  // ------------------------------------------------ the rebuild tick
  /** One rebuild tick's inputs, indexed by relation INSTANCE (a
    * self-join reads its table once per instance): table, checkpoint
    * and head snapshot, and each MOVED instance's changelog as PLAIN
    * source rows — for touched-key derivation the sign is irrelevant,
    * any appearance means the key may have changed — persisted once,
    * since it feeds several cover terms plus its equi-key envelope
    * ([[DeltaEquiStats]], computed on first use). Frames a shape
    * persists through [[persist]] are released when the tick ends. */
  private[engine] final class Tick(
      val spark: SparkSession,
      val tables: Seq[GraftTable],
      val ckpts: Seq[Long],
      val heads: Seq[Long],
      rels: Seq[DataSourceV2Relation],
      /** the join tree's attr = attr conjuncts ([[treeEquiPairs]]) */
      val eq: Seq[(Int, String, Int, String)]) {
    private val held = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    def persist(df: DataFrame): DataFrame = {
      val p = df.persist(StorageLevel.MEMORY_AND_DISK)
      held += p
      p
    }
    def release(): Unit = held.foreach(_.unpersist(blocking = false))

    val deltas: Map[Int, DataFrame] = tables.indices
      .filter(i => ckpts(i) != heads(i))
      .map(i => i -> persist(tables(i).changelogScan(spark, ckpts(i), Some(heads(i)))
        .select(rels(i).output.map(a => col(a.name)): _*)))
      .toMap
    lazy val stats: Map[Int, DeltaEquiStats] =
      deltas.map { case (i, d) => i -> deltaEquiStats(d, equiColsOf(eq, i)) }

    private def at(i: Int, snap: Long): DataFrame = {
      val t = tables(i)
      t.scan(spark, t.AtSnapshot(snap))
    }
    lazy val headFrames: Seq[DataFrame] = tables.indices.map(i => at(i, heads(i)))
    lazy val ckptFrames: Seq[DataFrame] = tables.indices.map(i => at(i, ckpts(i)))
    /** Per instance, a file-pruned scan constructor at the heads (or
      * at the checkpoints) — the tick's scans prune their listings by
      * touched or envelope bounds. */
    def prunedHeads: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]] =
      prunedAt(heads)
    def prunedCkpts: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]] =
      prunedAt(ckpts)
    private def prunedAt(snaps: Seq[Long]) = tables.zip(snaps).map { case (t, snap) =>
      Some((fs: Seq[org.apache.spark.sql.sources.Filter]) =>
        t.scanStatsPruned(spark, fs, t.AtSnapshot(snap)))
    }
  }

  /** One refresh tick for every [[RecomputeOnTouch]] shape. NoOp when
    * every source checkpoint matches its head, or when every source is
    * still empty. A missing checkpoint (the create-time cold start) or
    * a headless source: full rebuild at the heads — a headless side
    * reads as an EMPTY frame, which for an INNER join makes the result
    * empty while an OUTER join's preserved side still null-extends, so
    * the plan executes rather than writing empty. Otherwise: the
    * shape's touched keys (persisted), its rebuild restricted to them,
    * and one keyed replacement commit advancing every checkpoint
    * atomically. An absent head checkpoints as an explicit "none"
    * marker — otherwise a persistently-empty side would fail the
    * currency check and commit a fresh identical overwrite EVERY tick. */
  private def refreshRebuild(
      spark: SparkSession, mv: GraftTable, rs: RecomputeOnTouch): RefreshMode = {
    val meta = mv.metadata
    val names = rs.idents.map(rs.nameOf)
    val tables = rs.idents.zip(names).distinctBy(_._2)
      .map { case (ti, n) => n -> rs.table(spark, ti) }.toMap
    val heads = tables.map { case (n, t) => n -> t.metadata.currentSnapshotId }
    def headMark(h: Option[Long]): String = h.map(_.toString).getOrElse("none")
    val ckpts = heads.map { case (n, h) => ChangelogApply.ckptKey(n) -> headMark(h) } +
      (RefreshModeProp -> rs.mode)
    if (heads.forall { case (n, h) =>
      meta.properties.get(ChangelogApply.ckptKey(n)).contains(headMark(h))
    }) return NoOp
    if (heads.values.forall(_.isEmpty)) return NoOp

    val marks = heads.map { case (n, h) =>
      n -> (meta.properties.get(ChangelogApply.ckptKey(n)).flatMap(_.toLongOption), h)
    }
    val moved = names.count(n => marks(n)._1 != marks(n)._2)
    if (!marks.values.forall { case (c, h) => c.isDefined && h.isDefined } ||
        !rs.coverable(moved)) {
      val frames = names.map { n =>
        val t = tables(n)
        heads(n).map(h => t.scan(spark, t.AtSnapshot(h))).getOrElse(t.scan(spark))
      }
      mv.overwriteAll(rs.rebuildFull(spark, frames),
        meta.currentSnapshotId, extraProperties = ckpts)
      return Full
    }
    val tick = new Tick(spark, names.map(tables),
      names.map(n => marks(n)._1.get), names.map(n => marks(n)._2.get),
      rs.rels, treeEquiPairs(rs.aggChild, rs.rels))
    try {
      val touched = tick.persist(rs.touchedKeys(tick).distinct())
      mv.replaceKeys(spark, rs.keyOutNames, rs.touchedOut(touched),
        rs.rebuildTouched(tick, touched),
        meta.currentSnapshotId, extraProperties = ckpts)
      Incremental
    } finally tick.release()
  }

  /** One refresh tick for the two-table [[JoinShape]]: NoOp when both
    * checkpoints sit at their heads; one-sided delta fold when exactly
    * one side moved (Δchanged ⋈ other@unchanged-head); full recompute
    * at the two pinned heads when both moved or either checkpoint is
    * missing. Both checkpoints commit ATOMICALLY with the content —
    * the same exactly-once construct as the single-table tick. */
  private def refreshJoin(spark: SparkSession, mv: GraftTable, js: JoinShape): RefreshMode = {
    val meta = mv.metadata
    val outNames = meta.currentSchema.fields.map(_.name).toSeq
    val lt = js.table(spark, js.leftIdent)
    val rt = js.table(spark, js.rightIdent)
    val lHead = lt.metadata.currentSnapshotId
    val rHead = rt.metadata.currentSnapshotId
    if (lHead.isEmpty && rHead.isEmpty) return NoOp // both empty: joined result is empty
    val kL = ChangelogApply.ckptKey(js.leftName)
    val kR = ChangelogApply.ckptKey(js.rightName)
    val ckL = meta.properties.get(kL).flatMap(_.toLongOption)
    val ckR = meta.properties.get(kR).flatMap(_.toLongOption)
    // an absent head checkpoints as an explicit marker — otherwise a
    // persistently-empty side would fail the currency check and commit
    // a fresh (empty, identical) overwrite snapshot EVERY tick
    def headMark(h: Option[Long]): String = h.map(_.toString).getOrElse("none")
    val ckpts = Map(
      kL -> headMark(lHead), kR -> headMark(rHead),
      RefreshModeProp -> js.mode)
    if (meta.properties.get(kL).contains(headMark(lHead)) &&
        meta.properties.get(kR).contains(headMark(rHead))) return NoOp

    def fullAtHeads(): RefreshMode = (lHead, rHead) match {
      case (Some(lh), Some(rh)) =>
        mv.overwriteAll(
          js.recompute(lt.scan(spark, lt.AtSnapshot(lh)),
            rt.scan(spark, rt.AtSnapshot(rh)), outNames),
          meta.currentSnapshotId, extraProperties = ckpts)
        Full
      case _ =>
        // one side empty: inner join is empty — store the empty frame
        // (recomputed from an empty scan-shaped limit 0 of the MV)
        mv.overwriteAll(mv.scan(spark).limit(0),
          meta.currentSnapshotId, extraProperties = ckpts)
        Full
    }

    /** The JOINED base at the two current heads — what the
      * recompute-on-touch families (min/max, count-distinct) rebuild
      * their touched keys from. Touched-key sized after the semi-join
      * inside the apply helpers; only evaluated for those families. */
    def baseAtHeads: DataFrame = (lHead, rHead) match {
      case (Some(lh), Some(rh)) =>
        js.baseFrame(lt.scan(spark, lt.AtSnapshot(lh)),
          rt.scan(spark, rt.AtSnapshot(rh)))
      case _ => mv.scan(spark).limit(0) // unreachable: folds need both heads
    }

    /** Churn-sized fold + churn-sized commit, the join twin of the
      * single-table tick: previous state restricted to the touched
      * keys, then replaceKeys (equality-delete + folded rows) — never
      * an MV-sized rewrite. `mmDelta` is the frame the min/max family
      * folds (the two-sided case re-marks it all-delete so every
      * touched key rebuilds from the joined base, while the additive
      * family keeps the true signed union). */
    def fold(delta: DataFrame, mmDelta: DataFrame => DataFrame = identity)
        : RefreshMode = {
      if (js.agg.keySrcNames.isEmpty) {
        // global aggregate over a join: single-row MV, overwrite is
        // already churn-sized
        val folded = js.agg.applyFold(
          js.agg.toInternal(mv.scan(spark)), delta, baseAtHeads, mmDelta)
        mv.overwriteAll(js.agg.fromInternal(folded, outNames, mv),
          meta.currentSnapshotId, extraProperties = ckpts)
        return Incremental
      }
      val touched = delta.select(js.agg.keySrcNames.map(col): _*).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      try {
        val prevTouched = ChangelogApply.nullSafeJoin(
          js.agg.toInternal(mv.scan(spark).filter(
            ChangelogApply.touchedBoundsFilter(
              js.agg.touchedOut(touched), js.agg.keyOutNames))),
          touched, js.agg.keySrcNames, "left_semi")
        val folded = js.agg.applyFold(prevTouched, delta, baseAtHeads, mmDelta)
        mv.replaceKeys(spark, js.agg.keyOutNames,
          js.agg.touchedOut(touched), js.agg.fromInternal(folded, outNames, mv),
          meta.currentSnapshotId, extraProperties = ckpts)
      } finally touched.unpersist(blocking = false)
      Incremental
    }

    (ckL, ckR) match {
      case (Some(cl), Some(cr)) if rHead.contains(cr) =>
        // only the left side moved
        lHead match {
          case Some(lh) => fold(js.delta(
            lt.changelogScan(spark, cl, Some(lh)),
            rt.scan(spark, rt.AtSnapshot(cr)), changedIsLeft = true))
          case None => fullAtHeads()
        }
      case (Some(cl), Some(cr)) if lHead.contains(cl) =>
        // only the right side moved
        rHead match {
          case Some(rh) => fold(js.delta(
            rt.changelogScan(spark, cr, Some(rh)),
            lt.scan(spark, lt.AtSnapshot(cl)), changedIsLeft = false))
          case None => fullAtHeads()
        }
      case (Some(cl), Some(cr)) =>
        // BOTH sides moved: the full bilinear expansion —
        //   Δ(A⋈B) = ΔA⋈B_old + A_old⋈ΔB + ΔA⋈ΔB
        // (signed multisets; the cross-term's pair sign is the product
        // of the two row signs). Still churn-priced: the only
        // full-table scans are each side AT ITS OLD checkpoint joined
        // against the OTHER side's delta — never old⋈old. For the
        // recompute-on-touch families the bilinear terms serve as the
        // TOUCHED-KEY cover (every added or removed joined pair appears
        // in one of them); min/max additionally re-marks every row
        // 'delete' so no second-order pair is ever arithmetic-folded —
        // its touched keys all rebuild from the joined base (the
        // re-mark applies to the min/max family ALONE: a mixed-family
        // MV's additive part still folds the true signed union).
        (lHead, rHead) match {
          case (Some(lh), Some(rh)) =>
            val dL = lt.changelogScan(spark, cl, Some(lh))
            val dR = rt.changelogScan(spark, cr, Some(rh))
            val union =
              js.delta(dL, rt.scan(spark, rt.AtSnapshot(cr)), changedIsLeft = true)
                .unionByName(js.delta(dR, lt.scan(spark, lt.AtSnapshot(cl)), changedIsLeft = false))
                .unionByName(js.deltaCross(dL, dR))
            fold(union,
              mmDelta = _.withColumn("_change_type", lit("delete")))
          case _ => fullAtHeads() // a side went from/to empty-headed
        }
      case _ => fullAtHeads() // a checkpoint is missing
    }
  }

  // ------------------------------------------------- shape detection
  /** One MV output column of a foldable aggregate. */
  private[engine] sealed trait OutCol
  private[engine] final case class KeyOut(srcName: String, outName: String) extends OutCol
  private[engine] final case class CountStarOut(outName: String) extends OutCol
  private[engine] final case class CountVOut(outName: String) extends OutCol
  private[engine] final case class SumVOut(outName: String) extends OutCol
  private[engine] final case class AvgVOut(outName: String) extends OutCol
  private[engine] final case class MinVOut(outName: String) extends OutCol
  private[engine] final case class MaxVOut(outName: String) extends OutCol
  private[engine] final case class CountDistinctOut(outName: String) extends OutCol

  /** A defining query that folds through [[ChangelogApply.applyCountSum]]:
    * `SELECT keys..., count(*)/count(v)/sum(v)... FROM <graft table>
    * [WHERE deterministic-predicate] GROUP BY keys...`. */
  private[engine] final case class FoldShape(
      catalogName: String,
      sourceIdent: TableIdent,
      filter: Option[Expression], // unresolved-by-name, deterministic
      outs: Seq[OutCol],
      valueSrc: Option[String]) extends MvShape {

    def mode: String = "incremental"

    def sourceName: String = s"$catalogName.${sourceIdent.namespace.mkString(".")}.${sourceIdent.name}"
    def keySrcNames: Seq[String] = outs.collect { case k: KeyOut => k.srcName }
    def keyOutNames: Seq[String] = outs.collect { case k: KeyOut => k.outName }
    private def keyOuts: Seq[KeyOut] = outs.collect { case k: KeyOut => k }

    /** Touched-key frame (source names) → the MV's declared key names —
      * what [[GraftTable.replaceKeys]] equality-deletes. */
    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keyOuts.map(k => col(k.srcName).as(k.outName)): _*)

    /** `outs` is 1:1 positional with the analyzed output, so the
      * rename is an exact zip. */
    def withOutNames(declared: Seq[String]): FoldShape =
      copy(outs = outs.zip(declared).map {
        case (k: KeyOut, n) => k.copy(outName = n)
        case (c: CountStarOut, n) => c.copy(outName = n)
        case (c: CountVOut, n) => c.copy(outName = n)
        case (c: SumVOut, n) => c.copy(outName = n)
        case (c: AvgVOut, n) => c.copy(outName = n)
        case (c: MinVOut, n) => c.copy(outName = n)
        case (c: MaxVOut, n) => c.copy(outName = n)
        case (c: CountDistinctOut, n) => c.copy(outName = n)
      })
    /** Min/max family folds through [[ChangelogApply.applyMinMax]]
      * (recompute-on-retract); count/sum through applyCountSum. */
    def isMinMax: Boolean = outs.exists {
      case _: MinVOut | _: MaxVOut => true; case _ => false
    }
    /** Distinct-count family folds through
      * [[ChangelogApply.applyCountDistinct]] (every touched key
      * recomputes — no per-value-free fold exists for distinct). */
    def isCountDistinct: Boolean = outs.exists(_.isInstanceOf[CountDistinctOut])
    /** Additive family: sum/avg/count(v) outputs, or a pure-count(*)
      * MV (which folds through the same count/sum arithmetic). */
    def isAdditive: Boolean = outs.exists {
      case _: SumVOut | _: AvgVOut | _: CountVOut => true; case _ => false
    } || (!isMinMax && !isCountDistinct)

    /** Fold one changelog delta into the previous internal state —
      * families don't mix INSIDE an apply helper, so a mixed-family MV
      * (e.g. sum + min in one view) folds each family through its own
      * path and inner-joins the parts on the group keys (every part
      * emits exactly the keys with n_rows > 0, so the join is total).
      * `baseAtHead` is only evaluated for the recompute-on-touch
      * families; `mmDelta` lets the two-sided join tick re-mark the
      * min/max family's delta all-delete without corrupting the
      * additive arithmetic. */
    def applyFold(
        prevInternal: DataFrame, changes: DataFrame,
        baseAtHead: => DataFrame,
        mmDelta: DataFrame => DataFrame = identity): DataFrame = {
      val k = keySrcNames
      val parts = Seq(
        (if (isAdditive) Some(ChangelogApply.applyCountSum(
          prevInternal.select((k ++ Seq("n_rows", "n_vals", "sum_v")).map(col): _*),
          withValue(changes), k, valueName)) else None),
        (if (isMinMax) Some(ChangelogApply.applyMinMax(
          prevInternal.select((k ++ Seq("n_rows", "min_v", "max_v")).map(col): _*),
          mmDelta(changes), baseAtHead, k, valueName)) else None),
        (if (isCountDistinct) Some(ChangelogApply.applyCountDistinct(
          prevInternal.select((k ++ Seq("n_rows", "n_distinct")).map(col): _*),
          changes, baseAtHead, k, valueName)) else None)).flatten
      if (k.isEmpty && parts.size > 1) {
        // a keyless mixed-family MV would need a 1x1 join. Each
        // family's apply helper emits EXACTLY one row for the keyless
        // global group — including the all-deleted case (count 0,
        // NULL aggregates: SQL's global-group fixture). r15 relied on
        // that invariant by convention (a crossJoin silently drops the
        // global row if a future family ever emits zero); r16 made it
        // SELF-ENFORCING; r17 keeps the enforcement but evaluates all
        // parts in ONE job: the parts are cross-joined as structs (all
        // single-row by contract, so the product is 1×1×1) and
        // collected together — a zero-row family EMPTIES the product
        // and a multi-row family INFLATES it, both caught by the
        // row-count check below, never silently. The per-family
        // diagnostic job runs only on the failure path.
        val session = parts.head.sparkSession
        val combined = parts.zipWithIndex
          .map { case (p, i) =>
            p.select(struct(p.columns.map(col).toSeq: _*).as(s"__part_$i")) }
          .reduceLeft(_ crossJoin _)
        val combinedRows = combined.limit(2).collect()
        if (combinedRows.length != 1) {
          val counts = parts
            .map(p => s"${p.schema.fieldNames.mkString("/")}: ${p.limit(3).count()}")
          throw new IllegalArgumentException(
            "keyless fold invariant violated: the single-row-per-family " +
              s"product has ${combinedRows.length} rows (contract: exactly 1, " +
              "including the all-deleted case) — per-family row counts " +
              s"(capped at 3): ${counts.mkString("; ")}")
        }
        val evaluated = parts.zipWithIndex.map { case (p, i) =>
          (p.schema, combinedRows.head.getStruct(i))
        }
        val (headSchema, headRow) = evaluated.head
        val tailKept = evaluated.tail.map { case (sch, r) =>
          val keep = sch.fields.zipWithIndex.filter(_._1.name != "n_rows")
          (keep.map(_._1).toSeq, keep.map { case (_, i) => r.get(i) }.toSeq)
        }
        session.createDataFrame(
          java.util.Arrays.asList(
            Row.fromSeq(headRow.toSeq ++ tailKept.flatMap(_._2))),
          org.apache.spark.sql.types.StructType(
            headSchema.fields.toSeq ++ tailKept.flatMap(_._1)))
      } else parts.reduceLeft((a, b) =>
        ChangelogApply.nullSafeJoin(a, b.drop("n_rows"), k, "inner"))
    }

    def sourceTable(spark: SparkSession): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(sourceIdent)
    }

    def applyFilter(df: DataFrame): DataFrame =
      filter.fold(df)(e => df.filter(GraftShims.column(e)))

    /** Name the fold's value column; when the query has no value
      * aggregate a constant 1 stands in (sum of 1s == count — the fold
      * stays exact and the synthetic columns are dropped on output). */
    val valueName: String = valueSrc.getOrElse("__mv_one")
    private def needsRealSum: Boolean = outs.exists {
      case _: SumVOut | _: AvgVOut => true; case _ => false
    }
    def withValue(changes: DataFrame): DataFrame =
      if (valueSrc.isEmpty) changes.withColumn(valueName, lit(1L))
      else if (!needsRealSum)
        // count(v)-only fold: only the NULL positions matter, so map v
        // to a {1L, NULL} indicator — keeps applyCountSum's
        // `__sign * v` arithmetic well-typed for ANY source type
        // (count(string) would otherwise hit an ANSI cast error)
        changes.withColumn(valueName,
          org.apache.spark.sql.functions.when(col(valueName).isNotNull, lit(1L)))
      else changes

    /** Stored MV rows → the internal frame the fold expects:
      * (keys..., n_rows, n_vals, sum_v) for the count/sum family,
      * (keys..., n_rows, min_v, max_v) for the min/max family. A
      * declared-but-absent internal column is synthesized from what IS
      * stored; synthesized columns are discarded on output, so they
      * only need to keep the fold's arithmetic well-typed. */
    def toInternal(stored: DataFrame): DataFrame = {
      val nRows = outs.collectFirst { case c: CountStarOut => col(c.outName) }.get
      val distinctCols = if (!isCountDistinct) Nil else {
        val nd = outs.collectFirst { case c: CountDistinctOut => col(c.outName) }.get
        Seq(nd.cast("long").as("n_distinct"))
      }
      val minMaxCols = if (!isMinMax) Nil else {
        val minV = outs.collectFirst { case c: MinVOut => col(c.outName) }
        val maxV = outs.collectFirst { case c: MaxVOut => col(c.outName) }
        Seq(minV.getOrElse(maxV.get).as("min_v"),
          maxV.getOrElse(minV.get).as("max_v"))
      }
      val additiveCols = if (!isAdditive) Nil else {
        val nVals = outs.collectFirst { case c: CountVOut => col(c.outName) }
          .getOrElse(nRows) // value col proven non-nullable (or synthetic 1)
        val sumV = outs.collectFirst { case c: SumVOut => col(c.outName) }
          .orElse(outs.collectFirst { case c: AvgVOut =>
            // avg-only MV: recover the exact sum as avg × n_vals.
            // shapeOf admits this shape only for INTEGRAL values, where
            // the round() makes the double round-trip exact (up to
            // ~2^51 of per-key mass — see SCALING.md's MV section)
            org.apache.spark.sql.functions
              .round(col(c.outName) * nVals.cast("double")).cast("long")
          })
          // no sum/avg stored: the fold's value is the {1L, NULL}
          // indicator (or the synthetic constant 1), whose sum IS the
          // non-null count — seed sum_v with n_vals so prev + delta
          // stay in the same unit (the column is dropped on output)
          .getOrElse(nVals.cast("long"))
        Seq(nVals.cast("long").as("n_vals"), sumV.as("sum_v"))
      }
      // a mixed-family MV carries the UNION of its families' internal
      // columns; each applyFold part selects its own slice
      stored.select(
        keyOuts.map(k => col(k.outName).as(k.srcName)) ++
          Seq(nRows.cast("long").as("n_rows")) ++
          additiveCols ++ minMaxCols ++ distinctCols: _*)
    }

    /** Folded internal frame → the MV's declared columns, cast to its
      * declared types (sum over int widens internally; the table
      * schema wins). */
    def fromInternal(folded: DataFrame, outNames: Seq[String], mv: GraftTable): DataFrame = {
      val types = mv.metadata.currentSchema.fields
        .map(f => f.name -> SchemaBridge.toSpark(f.fieldType)).toMap
      val byName: Map[String, Column] = outs.map {
        case KeyOut(src, out) => out -> col(src).cast(types(out)).as(out)
        case CountStarOut(out) => out -> col("n_rows").cast(types(out)).as(out)
        case CountVOut(out) => out -> col("n_vals").cast(types(out)).as(out)
        case SumVOut(out) => out -> col("sum_v").cast(types(out)).as(out)
        case AvgVOut(out) =>
          // SQL NULL when the group has no non-null values — and the
          // `when` guard keeps ANSI division away from n_vals = 0
          out -> org.apache.spark.sql.functions
            .when(col("n_vals") > lit(0L),
              col("sum_v").cast("double") / col("n_vals").cast("double"))
            .cast(types(out)).as(out)
        case MinVOut(out) => out -> col("min_v").cast(types(out)).as(out)
        case MaxVOut(out) => out -> col("max_v").cast(types(out)).as(out)
        case CountDistinctOut(out) => out -> col("n_distinct").cast(types(out)).as(out)
      }.toMap
      // column order must match the declared schema
      folded.select(outNames.map(byName): _*)
    }

    /** Full recompute in the MV's declared column order — the cold
      * start and the fallback the incremental fold must always equal. */
    def recompute(base: DataFrame, outNames: Seq[String]): DataFrame = {
      val grouped = base.groupBy(keySrcNames.map(col): _*)
      val aggs = outs.collect {
        case CountStarOut(out) => org.apache.spark.sql.functions.count(lit(1)).as(out)
        case CountVOut(out) => org.apache.spark.sql.functions.count(col(valueName)).as(out)
        case SumVOut(out) => org.apache.spark.sql.functions.sum(col(valueName)).as(out)
        case AvgVOut(out) => org.apache.spark.sql.functions.avg(col(valueName)).as(out)
        case MinVOut(out) => org.apache.spark.sql.functions.min(col(valueName)).as(out)
        case MaxVOut(out) => org.apache.spark.sql.functions.max(col(valueName)).as(out)
        case CountDistinctOut(out) =>
          org.apache.spark.sql.functions.count_distinct(col(valueName)).as(out)
      }
      val keyed = grouped.agg(aggs.head, aggs.tail: _*)
      val renamedKeys = keyOuts.foldLeft(keyed) { (df, k) =>
        if (k.srcName == k.outName) df else df.withColumnRenamed(k.srcName, k.outName)
      }
      renamedKeys.select(outNames.map(col): _*)
    }
  }

  /** The two-table incremental-view-maintenance shape:
    * `SELECT keys..., count(*)[, count(v)/sum(v)/avg(v)/min(v)/max(v)/
    * count(distinct v)] FROM a JOIN b ON a.x = b.y [WHERE det]
    * GROUP BY keys...` over two graft tables. The classic delta rules:
    * one side changed → Δ(A ⋈ B) = ΔA ⋈ B (the changed side's
    * CHANGELOG joined against the other side's unchanged head); both
    * sides changed → the full signed bilinear expansion
    * ΔA⋈B + A⋈ΔB + ΔA⋈ΔB. Every fold is churn × other-side-sized,
    * never either table from scratch; min/max and count-distinct
    * rebuild touched keys from the JOINED base at the pinned heads.
    *
    * `agg` carries the aggregate arithmetic (outs/value/internal
    * frames) — the same machinery [[FoldShape]] uses, over the JOINED
    * frame's column names. */
  private[engine] final case class JoinShape(
      catalogName: String,
      leftIdent: TableIdent,
      rightIdent: TableIdent,
      leftKey: String,
      rightKey: String,
      /** non-join-key columns each fold needs from each side */
      leftCols: Seq[String],
      rightCols: Seq[String],
      /** post-join, name-based (right join key rewritten to left's) */
      filter: Option[Expression],
      agg: FoldShape) extends MvShape {

    def mode: String = agg.mode

    def leftName: String =
      s"$catalogName.${leftIdent.namespace.mkString(".")}.${leftIdent.name}"
    def rightName: String =
      s"$catalogName.${rightIdent.namespace.mkString(".")}.${rightIdent.name}"

    def table(spark: SparkSession, ti: TableIdent): GraftTable = {
      val plugin = GraftShims.catalogPlugin(spark, Some(catalogName))
      plugin.asInstanceOf[GraftSparkCatalog].engineTable(ti)
    }

    def withOutNames(declared: Seq[String]): JoinShape =
      copy(agg = agg.withOutNames(declared))

    /** Join `lf` (left-side frame, may carry `_change_type`) with `rf`
      * (right-side frame, likewise): ONE join-key column survives,
      * named after the LEFT key; each side is pruned to what the fold
      * reads. Right-side names are disjoint from left's by detection. */
    private def joined(lf: DataFrame, rf: DataFrame): DataFrame = {
      def keep(df: DataFrame, needed: Seq[String]): Seq[String] =
        needed.filter(df.columns.contains) // _change_type rides only on the changelog side
      val lNeeded = (leftKey +: (leftCols :+ "_change_type")).distinct
      val rNeeded = (rightKey +: (rightCols :+ "_change_type")).distinct
      val lp = lf.select(keep(lf, lNeeded).map(col): _*)
      val rp = rf.select(keep(rf, rNeeded).map(col): _*)
        .withColumnRenamed(rightKey, "__mv_jk")
      lp.join(rp, col(leftKey) === col("__mv_jk"), "inner").drop("__mv_jk")
    }

    private def applyFilter(df: DataFrame): DataFrame =
      filter.fold(df)(e => df.filter(GraftShims.column(e)))

    /** The one-sided delta: the changed side's changelog ⋈ the other
      * side's head scan, filter applied POST-join (it may reference
      * both sides). `changedIsLeft` orients the join. */
    def delta(changes: DataFrame, other: DataFrame,
        changedIsLeft: Boolean): DataFrame =
      applyFilter(
        if (changedIsLeft) joined(changes, other) else joined(other, changes))

    /** The second-order cross-term ΔA ⋈ ΔB of the bilinear expansion:
      * both inputs carry `_change_type`, and a joined pair's sign is
      * the PRODUCT of the two row signs — re-encoded as one
      * `_change_type` ((insert,insert) and (delete,delete) → insert,
      * mixed → delete) so the additive fold consumes it unchanged.
      * Churn × churn sized: both inputs are changelogs. */
    def deltaCross(lChanges: DataFrame, rChanges: DataFrame): DataFrame = {
      val lp = lChanges
        .select(((leftKey +: leftCols).distinct.map(col) :+
          col("_change_type").as("__ct_l")): _*)
      val rp = rChanges
        .select(((rightKey +: rightCols).distinct.map(col) :+
          col("_change_type").as("__ct_r")): _*)
        .withColumnRenamed(rightKey, "__mv_jk")
      applyFilter(lp.join(rp, col(leftKey) === col("__mv_jk"), "inner")
        .withColumn("_change_type",
          when(col("__ct_l") === col("__ct_r"), lit("insert"))
            .otherwise(lit("delete")))
        .drop("__mv_jk", "__ct_l", "__ct_r"))
    }

    /** The joined, filtered base frame over two pinned scans — the
      * recompute input AND the touched-key rebuild source for the
      * min/max / count-distinct folds. */
    def baseFrame(lScan: DataFrame, rScan: DataFrame): DataFrame =
      applyFilter(joined(lScan, rScan))

    /** Full recompute over the two PINNED head scans. */
    def recompute(lScan: DataFrame, rScan: DataFrame,
        outNames: Seq[String]): DataFrame =
      agg.recompute(baseFrame(lScan, rScan), outNames)
  }

  // ------------------------------------------------ the rebuild shapes
  /** A shape refreshed by RECOMPUTE-ON-TOUCH: no per-aggregate
    * arithmetic — the defining PLAN re-executes over the head-pinned
    * sources restricted to the group keys the tick's deltas touched,
    * and the commit replaces exactly those keys. Correct for any
    * deterministic aggregate or per-key window because it IS the
    * defining query, scoped to the groups that could have changed: a
    * group whose rebuilt row fails a HAVING (or empties) produces no
    * replacement row and drops out via the key delete, and a touched
    * SUPERSET is always safe (an untouched-in-truth key rebuilds to
    * its identical row). [[refreshRebuild]] drives every tick; a shape
    * supplies its relation instances, its touched-key cover and its
    * restricted rebuild. */
  private[engine] sealed trait RecomputeOnTouch extends MvShape {
    def catalogName: String
    /** Relation instances in plan order (a self-join lists its table
      * once per instance). */
    def rels: Seq[DataSourceV2Relation]
    def analyzed: LogicalPlan
    /** The aggregate's input (a window's relation): touched keys
      * evaluate over it, and its join tree's equalities bound the
      * deltas' envelopes. */
    def aggChild: LogicalPlan
    /** Group keys as relation-level expressions — a plain attribute is
      * the identity case — each with the touched-frame column that
      * carries it. */
    def keys: Seq[(Expression, String)]
    def keyOutIdx: Seq[Int]
    def declaredNames: Seq[String]
    /** Group-key tuples the tick's deltas may have changed. */
    def touchedKeys(t: Tick): DataFrame
    /** The defining plan at the heads, restricted to `touched`. */
    def rebuildTouched(t: Tick, touched: DataFrame): DataFrame
    /** Is the touched cover worth deriving for this many moved
      * instances? When not, the tick rebuilds in full. */
    def coverable(moved: Int): Boolean = true

    final def mode: String = "incremental-rebuild"
    def keyOutNames: Seq[String] = keyOutIdx.map(declaredNames)
    def idents: Seq[TableIdent] = rels.map { r =>
      TableIdent(r.identifier.get.namespace().toSeq, r.identifier.get.name())
    }
    def nameOf(ti: TableIdent): String =
      s"$catalogName.${ti.namespace.mkString(".")}.${ti.name}"
    def table(spark: SparkSession, ti: TableIdent): GraftTable =
      GraftShims.catalogPlugin(spark, Some(catalogName))
        .asInstanceOf[GraftSparkCatalog].engineTable(ti)

    /** Touched-key frame → the MV's declared key names — what
      * [[GraftTable.replaceKeys]] equality-deletes. */
    def touchedOut(touched: DataFrame): DataFrame =
      touched.select(keys.map(_._2).zip(keyOutNames)
        .map { case (s, o) => col(s).as(o) }: _*)

    /** `plan` with each relation instance replaced by its frame
      * (matched by attribute ids, so self-join instances stay apart). */
    def substitute(plan: LogicalPlan, frames: Seq[DataFrame]): LogicalPlan = {
      val byOutput = rels.zip(frames)
      plan.transformUp {
        case r: DataSourceV2Relation =>
          byOutput.find(_._1.output == r.output) match {
            case Some((rel, frame)) => restoreAttrs(rel, frame)
            case None => r
          }
      }
    }

    /** Unrestricted re-execution (cold start / full at the heads). */
    def rebuildFull(spark: SparkSession, frames: Seq[DataFrame]): DataFrame =
      GraftShims.ofRows(spark, substitute(analyzed, frames)).toDF(declaredNames: _*)

    /** Re-execute the defining plan at `frames` (optionally rewritten
      * by `reshape`) with a null-safe LeftSemi on `touched` injected
      * directly above the aggregate's input — the exactness gate over
      * per-side restrictions, whose projections are rectangular and
      * can admit key tuples outside `touched`. */
    def rebuildAt(
        spark: SparkSession, touched: DataFrame, frames: Seq[DataFrame],
        reshape: LogicalPlan => LogicalPlan = identity): DataFrame = {
      val groupExprs = keys.map(_._1)
      val touchedPlan = touched.queryExecution.analyzed
      val cond = groupExprs.zip(touchedPlan.output)
        .map { case (g, t) => EqualNullSafe(g, t): Expression }
        .reduceLeft(And(_, _))
      def gate(child: LogicalPlan) =
        Join(child, touchedPlan, LeftSemi, Some(cond), JoinHint.NONE)
      val gated = reshape(substitute(analyzed, frames)).transformUp {
        case a: Aggregate if a.groupingExpressions == groupExprs => a.copy(child = gate(a.child))
        case d: Distinct if d.child.output.size == groupExprs.size &&
            d.child.output.zip(groupExprs).forall { case (o, g) => o.semanticEquals(g) } =>
          d.copy(child = gate(d.child))
      }
      GraftShims.ofRows(spark, gated).toDF(declaredNames: _*)
    }
  }

  /** The aggregate a rebuild shape re-executes: its group keys, its
    * outputs and its input. */
  private final case class AggNode(
      groupExprs: Seq[Expression], outputs: Seq[NamedExpression], child: LogicalPlan)

  /** Peel the deterministic `[Filter | Project]*` chain down to ONE
    * aggregate; SELECT DISTINCT analyzes to a Distinct node — an
    * implicit aggregate grouping by (and emitting) its child's output. */
  private def peelAggNode(p: LogicalPlan): Option[AggNode] = p match {
    case f: Filter if f.condition.deterministic => peelAggNode(strip(f.child))
    case pr: Project if pr.projectList.forall(_.deterministic) =>
      peelAggNode(strip(pr.child))
    case a: Aggregate if a.aggregateExpressions.forall(_.deterministic) =>
      Some(AggNode(a.groupingExpressions, a.aggregateExpressions, a.child))
    case d: Distinct => Some(AggNode(d.child.output, d.child.output, d.child))
    case _ => None
  }

  /** `p` as a graft-catalog relation with an identifier, or None. */
  private def graftRel(p: LogicalPlan): Option[DataSourceV2Relation] = p match {
    case r: DataSourceV2Relation if r.identifier.isDefined &&
        r.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) => Some(r)
    case _ => None
  }

  /** Below the aggregate: pass-through column pruning and
    * deterministic filters are fine; anything else is out of grammar
    * (determinism is enforced by the match guards, so reaching a
    * relation/join means the whole chain qualified). */
  private def belowChain(p: LogicalPlan): LogicalPlan = strip(p) match {
    case Filter(c, r) if c.deterministic => belowChain(r)
    case pr: Project if pr.projectList.forall(_.isInstanceOf[AttributeReference]) =>
      belowChain(pr.child)
    case r => r
  }

  /** For each final output position, the exprId of the AGGREGATE
    * output attribute it passes through (None for columns computed
    * above the aggregate) — computed aggregate outputs like
    * `length(status) AS l` included. */
  private def originsToAgg(p: LogicalPlan)
      : Seq[Option[org.apache.spark.sql.catalyst.expressions.ExprId]] = p match {
    case a: Aggregate => a.aggregateExpressions.map(ne => Some(ne.toAttribute.exprId))
    case d: Distinct => d.child.output.map(a => Some(a.exprId))
    case f: Filter => originsToAgg(strip(f.child))
    case s: SubqueryAlias => originsToAgg(strip(s))
    case pr: Project =>
      val child = strip(pr.child)
      val below = originsToAgg(child)
      val idx = child.output.map(_.exprId).zipWithIndex.toMap
      pr.projectList.map {
        case ar: AttributeReference => idx.get(ar.exprId).flatMap(below)
        case Alias(ar: AttributeReference, _) => idx.get(ar.exprId).flatMap(below)
        case _ => None
      }
    case other => other.output.map(_ => None)
  }

  /** Where each group key surfaces: the aggregate output exposing it
    * (whose name is the key's touched-frame column) and that output's
    * position in the final output — None when a key is not exposed
    * (no column to address its rows by) or two keys share a name. */
  private def exposedKeys(analyzed: LogicalPlan, agg: AggNode)
      : Option[(Seq[String], Seq[Int])] = {
    val exposed = agg.groupExprs.map { g =>
      agg.outputs.find {
        case a: AttributeReference => g.semanticEquals(a)
        case Alias(e, _) => e.semanticEquals(g)
        case _ => false
      }.getOrElse(return None)
    }
    val names = exposed.map(_.name)
    if (names.distinct.size != names.size) return None
    val traced = originsToAgg(strip(analyzed))
    val keyOutIdx = exposed.map { o =>
      val i = traced.indexWhere(_.contains(o.toAttribute.exprId))
      if (i < 0) return None
      i
    }
    Some((names, keyOutIdx))
  }

  /** The attribute-keyed grammar of the N-ary and chain shapes: every
    * group key a plain, distinctly named source attribute of
    * `sourceOut`, exposed in the output — or None (→ full). */
  private def attrKeys(analyzed: LogicalPlan, agg: AggNode, sourceOut: AttributeSet)
      : Option[(Seq[AttributeReference], Seq[Int])] = {
    val attrs = agg.groupExprs.collect { case a: AttributeReference => a }
    if (attrs.isEmpty || attrs.size != agg.groupExprs.size) return None
    if (attrs.map(_.name).distinct.size != attrs.size) return None
    if (!attrs.forall(sourceOut.contains)) return None
    exposedKeys(analyzed, agg).map { case (_, keyOutIdx) => (attrs, keyOutIdx) }
  }

  /** Wrap `frame` (same column names/types as `rel` — a pinned scan or
    * a changelog's plain rows) in a Project that aliases its columns
    * back onto `rel`'s ORIGINAL attribute ids, so every reference in
    * the stored analyzed plan resolves unchanged. */
  private def restoreAttrs(
      rel: DataSourceV2Relation, frame: DataFrame): LogicalPlan = {
    val sub = frame.queryExecution.analyzed
    val byName = sub.output.map(a => a.name -> a).toMap
    Project(
      rel.output.map(a => Alias(byName(a.name), a.name)(exprId = a.exprId)),
      sub)
  }

  /** For each output position of `p`, the RELATION-LEVEL expression it
    * computes — every intermediate alias inlined down to the single
    * graft relation's attributes — plus that relation. None per
    * position for window-function outputs and anything else that does
    * not resolve to pure relation-attribute expressions; None overall
    * when the tree is out of grammar (joins, aggregates, non-
    * deterministic nodes). The analyzer EXTRACTS expression window
    * keys into a computing Project below the Window (`_w0`), which a
    * pass-through grammar cannot see through — this can. */
  private def relationLevelOutputs(p: LogicalPlan)
      : Option[(Seq[Option[Expression]], DataSourceV2Relation)] = strip(p) match {
    case r: DataSourceV2Relation =>
      Some((r.output.map(a => Some(a: Expression)), r))
    case f: Filter if f.condition.deterministic => relationLevelOutputs(f.child)
    case w: org.apache.spark.sql.catalyst.plans.logical.Window =>
      relationLevelOutputs(w.child).map { case (ch, r) =>
        (ch ++ w.windowExpressions.map(_ => None), r)
      }
    case pr: Project if pr.projectList.forall(_.deterministic) =>
      relationLevelOutputs(pr.child).map { case (ch, r) =>
        val byId = pr.child.output.map(_.exprId).zip(ch).toMap
        val outs = pr.projectList.map { ne =>
          val e = ne match { case Alias(e0, _) => e0; case other => other }
          inlineToRelation(e, byId)
        }
        (outs, r)
      }
    case _ => None
  }

  /** Inline every attribute reference in `e` through `byId` (attr →
    * its relation-level expression); None when any reference is
    * unresolvable (e.g. a window output). */
  private def inlineToRelation(
      e: Expression,
      byId: Map[org.apache.spark.sql.catalyst.expressions.ExprId, Option[Expression]])
      : Option[Expression] = {
    var ok = true
    val inlined = e.transformUp {
      case a: AttributeReference =>
        byId.get(a.exprId).flatten match {
          case Some(re) => re
          case None => ok = false; a
        }
    }
    if (ok) Some(inlined) else None
  }

  /** The keys of `keys` computed from one side's attributes alone. */
  private def keysOn(keys: Seq[(Expression, String)], sideOut: AttributeSet)
      : Seq[(Expression, String)] =
    keys.filter { case (e, _) => e.references.nonEmpty && e.references.subsetOf(sideOut) }

  /** `frame`'s rows whose key tuple is in `touched`: a null-safe semi
    * evaluating each key expression over `frame`'s columns (by name)
    * against the touched column carrying it. */
  private def keySemi(
      frame: DataFrame, touched: DataFrame, keys: Seq[(Expression, String)]): DataFrame = {
    val cond = keys.map { case (e, n) =>
      GraftShims.column(e.transformUp {
        case a: AttributeReference => UnresolvedAttribute(Seq("__nsl", a.name))
      }) <=> col(s"__nsr.$n")
    }.reduce(_ && _)
    frame.alias("__nsl").join(touched.alias("__nsr"), cond, "left_semi")
  }

  /** Restrict one side's frame to rows that can contribute to a
    * touched group: the keys computed from THIS side's attributes take
    * their value from the side's row, so a row whose key subtuple is
    * absent from `touched`'s projection cannot feed any touched group.
    * The projection's inverted bounds prune the FILE LISTING (via
    * `prunedScan` — [[GraftTable.scanStatsPruned]], supplied by the
    * tick) and a null-safe semi is the row gate. Exact for any side
    * whose removal cannot fabricate output rows (every inner-join
    * side; an outer join's restrictable side — see the callers'
    * policy). A side that computes no key stays as given. */
  private[engine] def restrictFrame(
      keys: Seq[(Expression, String)],
      frame: DataFrame, touched: DataFrame,
      sideOut: AttributeSet,
      prunedScan: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame])
      : DataFrame = {
    val sideKeys = keysOn(keys, sideOut)
    if (sideKeys.isEmpty) frame
    else {
      val proj = touched.select(sideKeys.map(k => col(k._2)): _*).distinct()
      val bounded = invertedTouchedFilters(proj, sideKeys) match {
        case Left(()) => frame.limit(0)
        case Right(Nil) => frame
        case Right(fs) => prunedScan.fold(frame)(_(fs))
      }
      keySemi(bounded, proj, sideKeys)
    }
  }

  /** Inverse-bounds derivation of every rebuild scan restriction: one
    * tiny agg over the touched tuples collects
    * each key's min/max/has-null, and every `(groupExpr, keyName)`
    * pair [[InvertibleKeyBounds]] can invert contributes a filter on
    * its source column.
    *  - `Left(())` — touched is EMPTY: read nothing;
    *  - `Right(Nil)` — nothing inverts (or values unconvertible):
    *    honest full scan;
    *  - `Right(filters)` — prune the listing (supersets only; callers
    *    keep their row-level exactness gate). */
  private[engine] def invertedTouchedFilters(
      touched: DataFrame, exprKeys: Seq[(Expression, String)])
      : Either[Unit, Seq[org.apache.spark.sql.sources.Filter]] = {
    import org.apache.spark.sql.functions.{count, max, min}
    import org.apache.spark.sql.{sources => S}
    val inversions = exprKeys.map { case (e, _) => InvertibleKeyBounds.invert(e) }
    if (inversions.forall(_.isEmpty)) return Right(Nil)
    val keyNames = exprKeys.map(_._2)
    val aggs = keyNames.flatMap(k => Seq(
      min(col(k)).as(s"__mn_$k"), max(col(k)).as(s"__mx_$k"),
      count(col(k)).as(s"__ct_$k"))) :+ count(lit(1)).as("__total")
    val row = touched.agg(aggs.head, aggs.tail: _*).head()
    val total = row.getAs[Long]("__total")
    if (total == 0L) return Left(())
    Right(inversions.zip(keyNames).flatMap {
      case (Some(inv), k) =>
        val mn = row.getAs[Any](s"__mn_$k")
        val mx = row.getAs[Any](s"__mx_$k")
        val hasNull = row.getAs[Long](s"__ct_$k") < total
        val range =
          if (mn == null) None // only NULL-keyed tuples touched
          else scala.util.Try(inv.bounds(mn, mx)).toOption.flatten
        (range, mn == null || hasNull) match {
          case (Some(f), false) => Some(f)
          case (Some(f), true) => Some(S.Or(f, S.IsNull(inv.column)): S.Filter)
          case (None, true) if mn == null => Some(S.IsNull(inv.column): S.Filter)
          case (None, _) => None // unconvertible values: no pruning on this key
        }
      case (None, _) => None
    })
  }

  /** The single-table rebuild shape: `[Filter | Project]*` over ONE
    * aggregate (or SELECT DISTINCT) over `[Filter | pass-through
    * Project]*` over one graft table, `GROUP BY <deterministic
    * expressions>` each exposed (possibly aliased) in the output — or
    * the per-key WINDOW spelling ([[rebuildWindowExprShapeOf]]). Every
    * key references source attributes only, so a source row's key
    * tuple IS its group's (or window partition's) tuple: the tick
    * restricts the SOURCE rows to the touched tuples (null-safe semi —
    * exact, every touched group recomputes from its complete row set,
    * runner-up resurrection included) and re-runs the plan. The scan
    * file-prunes through [[InvertibleKeyBounds]] wherever the keys
    * invert — plain attributes always; `date_trunc`/`trunc` time
    * buckets, cast-to-date, `year`, floor-div and `div` range buckets —
    * and only a fully opaque key set (`length(s)`-class) pays the full
    * scan, still with churn-sized aggregate state and write. */
  private[engine] final case class RebuildExprShape(
      catalogName: String,
      relation: DataSourceV2Relation,
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      groupExprs: Seq[Expression],
      keyNames: Seq[String],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String]) extends RecomputeOnTouch {

    def rels: Seq[DataSourceV2Relation] = Seq(relation)
    def keys: Seq[(Expression, String)] = groupExprs.zip(keyNames)
    def withOutNames(declared: Seq[String]): RebuildExprShape =
      copy(declaredNames = declared)
    def sourceTable(spark: SparkSession): GraftTable = table(spark, idents.head)

    /** Touched key tuples of a delta: the key expressions over its
      * plain rows through the aggregate's input chain (its filters
      * apply — a superset is safe). */
    def touchedOf(spark: SparkSession, deltaRows: DataFrame): DataFrame =
      GraftShims.ofRows(spark, substitute(aggChild, Seq(deltaRows)))
        .select(keys.map { case (e, n) => GraftShims.column(e).as(n) }: _*)

    def touchedKeys(t: Tick): DataFrame = touchedOf(t.spark, t.deltas(0))

    /** The tick's source scan at `head`, file-pruned by the touched
      * tuples' inverted bounds:
      *  - an EMPTY frame when no tuple is touched (read nothing);
      *  - a [[GraftTable.scanStatsPruned]] scan when ≥1 key inverted
      *    (supersets only — the rebuild's semi stays the row gate);
      *  - the full head scan when every key is opaque.
      * NULL touched values OR an `IsNull` arm in: every registry
      * expression is null-preserving with non-null literal args, so
      * NULL-keyed groups come exactly from NULL source rows. */
    def sourceFrameFor(
        spark: SparkSession, source: GraftTable, head: Long,
        touched: DataFrame): DataFrame =
      invertedTouchedFilters(touched, keys) match {
        case Left(()) => GraftTable.emptyDf(spark, source.metadata.currentSchema)
        case Right(Nil) => source.scan(spark, source.AtSnapshot(head))
        case Right(fs) => source.scanStatsPruned(spark, fs, source.AtSnapshot(head))
      }

    /** Re-execute the defining plan over `frame`'s rows whose key
      * tuple is in `touched`. */
    def rebuild(spark: SparkSession, touched: DataFrame, frame: DataFrame): DataFrame =
      rebuildFull(spark, Seq(keySemi(frame, touched, keys)))

    def rebuildTouched(t: Tick, touched: DataFrame): DataFrame =
      rebuild(t.spark, touched, sourceFrameFor(t.spark, t.tables(0), t.heads(0), touched))
  }

  /** Analyzed plan → the aggregate spelling of [[RebuildExprShape]],
    * or None. Checked AFTER the arithmetic fold shapes (cheaper ticks
    * win): HAVING, expressions over aggregates, multiple value
    * columns, DISTINCT projections and expression keys all land here. */
  private[engine] def rebuildExprShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildExprShape] = {
    val agg = peelAggNode(strip(analyzed)).getOrElse(return None)
    // keyless: the fold tier's branch (or full) — no key to replace rows by
    if (agg.groupExprs.isEmpty || !agg.groupExprs.forall(_.deterministic)) return None
    val rel = graftRel(belowChain(agg.child)).getOrElse(return None)
    if (!agg.groupExprs.forall(_.references.subsetOf(rel.outputSet))) return None
    val (keyNames, keyOutIdx) = exposedKeys(analyzed, agg).getOrElse(return None)
    Some(RebuildExprShape(rel.catalog.get.name(), rel, analyzed, agg.child,
      agg.groupExprs, keyNames, keyOutIdx, analyzed.output.map(_.name)))
  }

  /** Analyzed plan → the WINDOW spelling of [[RebuildExprShape]], or
    * None: `[Project|Filter]*` over ONE Window node — every window
    * expression partitioned by the SAME deterministic keys — over
    * `[Filter|Project]*` over one graft relation. This is the top-k /
    * latest-row-per-key operational MV spelled the way people actually
    * spell it:
    * {{{
    *   SELECT k, v, payload FROM (
    *     SELECT *, row_number() OVER (PARTITION BY k ORDER BY v DESC) rn
    *     FROM t) WHERE rn <= 3
    * }}}
    * (also rank/dense_rank filters, per-key lag/lead views, and the
    * day-bucketed leaderboard `PARTITION BY date_trunc('day', ts)`). A
    * window partitioned by K computes each K-group from that group's
    * rows alone, so re-running the plan over the touched partitions'
    * COMPLETE head-pinned row sets yields exactly those keys' true
    * rows. The analyzer extracts expression keys into a computing
    * Project below the Window (`_w0`); the below-chain aliases are
    * inlined to recover each key as a RELATION-LEVEL expression, and
    * touched tuples evaluate over the delta's plain rows (below-chain
    * filters skipped — a superset is safe). Boundaries (→ full,
    * honest): multiple or nested Window nodes or mixed partition specs
    * (a window over a COARSER key could read rows outside the touched
    * partitions), an empty partition spec (global window), a key not
    * exposed in the output, a key whose below-chain resolution fails. */
  private[engine] def rebuildWindowExprShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildExprShape] = {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    def peelToWindow(p: LogicalPlan): Option[LWindow] = strip(p) match {
      case w: LWindow => Some(w)
      case f: Filter if f.condition.deterministic => peelToWindow(f.child)
      case pr: Project if pr.projectList.forall(_.deterministic) =>
        peelToWindow(pr.child)
      case _ => None
    }
    val w = peelToWindow(analyzed).getOrElse(return None)
    if (w.child.exists(_.isInstanceOf[LWindow])) return None
    if (!w.windowExpressions.forall(_.deterministic)) return None
    if (!w.orderSpec.forall(_.deterministic)) return None
    if (w.partitionSpec.isEmpty) return None // global window: full
    if (!w.partitionSpec.forall(_.deterministic)) return None
    val (childOuts, rel0) = relationLevelOutputs(w.child).getOrElse(return None)
    val rel = graftRel(rel0).getOrElse(return None)
    val byId = w.child.output.map(_.exprId).zip(childOuts).toMap
    val groupExprs = w.partitionSpec.map(e =>
      inlineToRelation(e, byId).getOrElse(return None))
    if (!groupExprs.forall(_.references.subsetOf(rel.outputSet))) return None
    // exposure: each key tuple component must be addressable in the
    // final output (replaceKeys deletes/reinserts by those columns)
    val (outExprs, _) = relationLevelOutputs(analyzed).getOrElse(return None)
    val keyOutIdx = groupExprs.map { g =>
      val i = outExprs.indexWhere(_.exists(_.semanticEquals(g)))
      if (i < 0) return None
      i
    }
    if (keyOutIdx.distinct.size != keyOutIdx.size) return None
    val declared = analyzed.output.map(_.name)
    val keyNames = keyOutIdx.map(declared)
    if (keyNames.distinct.size != keyNames.size) return None
    Some(RebuildExprShape(rel.catalog.get.name(), rel, analyzed, rel,
      groupExprs, keyNames, keyOutIdx, declared))
  }

  /** The rebuild shape over a TWO-TABLE join: `[Filter|Project]*` over
    * one aggregate over `[Filter|Project]*` over `a JOIN b` with ANY
    * deterministic condition (the rebuild re-executes the plan, so
    * nothing restricts it to single-attribute equi-joins the way the
    * arithmetic fold is). INNER and the three OUTER join types qualify;
    * each group key lives on ONE side and is exposed in the output.
    * Expression keys (the time-bucketed join MV, `GROUP BY
    * date_trunc('day', o.ts), c.region`) are INNER-only: the outer
    * null-extension cover reasons about keys taken verbatim from a
    * side's columns.
    *
    * Touched keys come from the cover terms the join type requires.
    * PAIR terms (join innerized) catch every joined pair that appeared
    * or disappeared: ΔA⋈B@head, A@head⋈ΔB, and ΔA⋈ΔB when both sides
    * moved — the bilinear cover, each term evaluated by substituting
    * the plan BELOW the aggregate (so the defining WHERE and join
    * condition apply). An OUTER join additionally changes
    * NULL-EXTENDED rows, whose groups the pair terms cannot see; for
    * each PRESERVED side S the tick adds
    *  - nullExt(ΔS): a changed S row's null-extension may have
    *    appeared or disappeared with the row itself, and
    *  - nullExt(S@head ⋉cond Δother): an S row whose match-set a
    *    changed other-side row entered or left may have flipped
    *    between matched and null-extended.
    * Both are delta-bounded; both are supersets of the truth. The
    * rebuild re-executes the FULL plan at the two pinned heads with
    * each side's scan restricted to its touched keys where the join
    * type allows, and the null-safe semi above the aggregate. */
  private[engine] final case class RebuildJoinShape(
      catalogName: String,
      leftRel: DataSourceV2Relation,
      rightRel: DataSourceV2Relation,
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      groupExprs: Seq[Expression],
      keyNames: Seq[String],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String],
      joinType: org.apache.spark.sql.catalyst.plans.JoinType,
      leftChild: LogicalPlan,
      rightChild: LogicalPlan,
      joinCond: Option[Expression]) extends RecomputeOnTouch {

    def rels: Seq[DataSourceV2Relation] = Seq(leftRel, rightRel)
    def keys: Seq[(Expression, String)] = groupExprs.zip(keyNames)
    def leftIdent: TableIdent = idents(0)
    def rightIdent: TableIdent = idents(1)
    def withOutNames(declared: Seq[String]): RebuildJoinShape =
      copy(declaredNames = declared)

    /** Does the join preserve unmatched rows of this side (LEFT
      * preserves its left, FULL both)? Preserved-side rows can appear
      * NULL-EXTENDED in the output — the semantics the outer-join
      * cover terms and the restriction policy both hinge on. */
    def preservesLeft: Boolean = joinType == LeftOuter || joinType == FullOuter
    def preservesRight: Boolean = joinType == RightOuter || joinType == FullOuter

    /** Group keys of one PAIR cover term: the plan below the aggregate
      * with the sides substituted and the join INNERIZED, projected to
      * the group keys. Innerizing matters for the outer grammar: a
      * delta-vs-head term evaluated with the plan's own OUTER join
      * would null-extend every unmatched head row and blow the touched
      * set up to the whole base — pairs come from the inner core, and
      * null-extension changes are covered by [[nullExtKeys]] terms. */
    def pairKeysOf(spark: SparkSession, aFrame: DataFrame, bFrame: DataFrame): DataFrame = {
      val innerized = aggChild.transformUp {
        case j: Join if j.joinType != Inner => j.copy(joinType = Inner)
      }
      GraftShims.ofRows(spark, substitute(innerized, Seq(aFrame, bFrame)))
        .select(keys.map { case (e, n) => GraftShims.column(e).as(n) }: _*)
    }

    /** The NULL-EXTENSION key of a preserved side's rows: that side's
      * group-key columns taken verbatim, every OTHER side's group key
      * as a typed NULL — the group a row lands in when it has no join
      * match. Cover terms feed this with (a) the side's delta rows
      * (their null-extension may have appeared/disappeared) and (b)
      * the side's head rows whose match-set changed ([[matchRows]]). */
    def nullExtKeys(sideOut: AttributeSet, rows: DataFrame): DataFrame =
      rows.select(keys.map {
        case (a: AttributeReference, n) if sideOut.contains(a) => col(a.name).as(n)
        case (g, n) => lit(null).cast(g.dataType).as(n)
      }: _*)

    /** Rows of the PRESERVED side (its join-child plan at `headFrame`)
      * that match the OTHER side's delta under the join condition — a
      * LeftSemi on the defining ON clause, so any row whose match-set
      * a delta row could have entered or left is found, delta-bounded. */
    def matchRows(
        spark: SparkSession, preservedIsLeft: Boolean,
        headFrame: DataFrame, deltaFrame: DataFrame): DataFrame = {
      val (keep, probe) =
        if (preservedIsLeft)
          (substitute(leftChild, Seq(headFrame, headFrame)),
            substitute(rightChild, Seq(deltaFrame, deltaFrame)))
        else
          (substitute(rightChild, Seq(headFrame, headFrame)),
            substitute(leftChild, Seq(deltaFrame, deltaFrame)))
      GraftShims.ofRows(spark, Join(keep, probe, LeftSemi, joinCond, JoinHint.NONE))
    }

    /** The cover terms above, over the tick's persisted deltas. The
      * DERIVATION's head-side scans are bounded by the deltas'
      * equi-join key min/max (r16) — a head row outside every linked
      * delta's range cannot satisfy the equality against any delta
      * row, so pair and match terms stay exact under the restriction;
      * the null-extension terms read deltas only. */
    def touchedKeys(t: Tick): DataFrame = {
      val (dA, dB) = (t.deltas.get(0), t.deltas.get(1))
      val (aStats, bStats) = (dA.map(_ => t.stats(0)), dB.map(_ => t.stats(1)))
      val aLive = aStats.exists(_.rows > 0L)
      val bLive = bStats.exists(_.rows > 0L)
      val aSat = aStats.exists(equiSat(t.eq, _, 0))
      val bSat = bStats.exists(equiSat(t.eq, _, 1))
      def prunedHead(i: Int, ds: DeltaEquiStats): DataFrame =
        prunedHeadScan(t.spark, t.tables(i), t.heads(i), equiBoundsFor(t.eq, i, ds))
      val terms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      if (aLive && aSat) {
        terms += pairKeysOf(t.spark, dA.get, prunedHead(1, aStats.get))
        if (bLive && bSat) terms += pairKeysOf(t.spark, dA.get, dB.get)
      }
      if (bLive && bSat) terms += pairKeysOf(t.spark, prunedHead(0, bStats.get), dB.get)
      if (preservesLeft) {
        if (aLive) terms += nullExtKeys(leftRel.outputSet, dA.get)
        if (bLive && bSat) terms += nullExtKeys(leftRel.outputSet,
          matchRows(t.spark, preservedIsLeft = true, prunedHead(0, bStats.get), dB.get))
      }
      if (preservesRight) {
        if (bLive) terms += nullExtKeys(rightRel.outputSet, dB.get)
        if (aLive && aSat) terms += nullExtKeys(rightRel.outputSet,
          matchRows(t.spark, preservedIsLeft = false, prunedHead(1, aStats.get), dA.get))
      }
      if (terms.isEmpty) pairKeysOf(t.spark, t.headFrames(0), t.headFrames(1)).limit(0)
      else terms.reduceLeft(_ unionByName _)
    }

    /** Re-execute the full defining plan at the substituted sides,
      * with the touched-key restriction applied at BOTH levels:
      * per-side scan restriction ([[restrictFrame]] — bounds pushed to
      * the scans, so a tick's join is churn-sized, never
      * full-join-sized) and the null-safe semi above the aggregate. */
    def rebuild(
        spark: SparkSession, touched: DataFrame,
        aFrame: DataFrame, bFrame: DataFrame,
        aPruned: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame] = None,
        bPruned: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame] = None)
        : DataFrame = {
      // RESTRICTION POLICY by join type: restricting a side is exact
      // only when removing its rows cannot FABRICATE output rows. For
      // INNER joins removing any row only removes pairs — both sides
      // restrict. For an OUTER join, removing rows of a NON-preserved
      // side can turn a matched preserved row into a spurious
      // null-extended one, which could land in a legitimately-touched
      // (…, NULL) group and corrupt its rebuild — so only sides whose
      // unmatched rows the join does NOT preserve against may stay
      // unrestricted: LEFT restricts its left, RIGHT its right, FULL
      // neither (the above-aggregate semi remains the exactness gate
      // and the only restriction). A side is NARROWED only when the
      // policy allows AND it computes a group key.
      val aNarrowed = !preservesRight && keysOn(keys, leftRel.outputSet).nonEmpty
      val bNarrowed = !preservesLeft && keysOn(keys, rightRel.outputSet).nonEmpty
      val aR = if (aNarrowed) restrictFrame(keys, aFrame, touched, leftRel.outputSet, aPruned)
        else aFrame
      val bR = if (bNarrowed) restrictFrame(keys, bFrame, touched, rightRel.outputSet, bPruned)
        else bFrame
      // r16 ENVELOPE: an un-narrowed, NON-PRESERVED side only matters
      // where it matches the narrowed companion — bound it by the
      // companion's direct equi-join-column stats (exact: dropping
      // non-matching rows of a non-preserved side cannot add or remove
      // output rows over the companion). Kills the rebuild's last
      // full dim scan in LEFT/RIGHT-join ticks and keyless-side inner
      // ticks; FULL OUTER keeps both sides whole.
      val eq = treeEquiPairs(aggChild, rels)
      def enveloped(frame: DataFrame, side: Int, companion: DataFrame,
          pruned: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]) =
        companionBounds(eq, side, 1 - side, companion) match {
          case Left(()) => frame.limit(0)
          case Right(bs) => applyBounds(frame, pruned, bs)
        }
      val bFinal = if (!bNarrowed && !preservesRight && aNarrowed) enveloped(bR, 1, aR, bPruned)
        else bR
      val aFinal = if (!aNarrowed && !preservesLeft && bNarrowed) enveloped(aR, 0, bR, aPruned)
        else aR
      rebuildAt(spark, touched, Seq(aFinal, bFinal))
    }

    def rebuildTouched(t: Tick, touched: DataFrame): DataFrame =
      rebuild(t.spark, touched, t.headFrames(0), t.headFrames(1),
        t.prunedHeads(0), t.prunedHeads(1))
  }

  /** Analyzed plan → [[RebuildJoinShape]], or None. Checked after the
    * join FOLD shape (cheaper ticks win); an outer join with a
    * non-deterministic ON routes to full like everything else out of
    * grammar. */
  private[engine] def rebuildJoinShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildJoinShape] = {
    val agg = peelAggNode(strip(analyzed)).getOrElse(return None)
    if (agg.groupExprs.isEmpty || !agg.groupExprs.forall(_.deterministic)) return None
    belowChain(agg.child) match {
      case Join(l0, r0, jt @ (Inner | LeftOuter | RightOuter | FullOuter), cond, _)
          if cond.forall(_.deterministic) =>
        (graftRel(belowChain(l0)), graftRel(belowChain(r0))) match {
          case (Some(lr), Some(rr)) if lr.catalog.get.name() == rr.catalog.get.name() =>
            // each key on ONE side: a cross-side expression has no
            // per-side derivation
            if (!agg.groupExprs.forall(g =>
              g.references.subsetOf(lr.outputSet) || g.references.subsetOf(rr.outputSet)))
              return None
            if (jt != Inner && !agg.groupExprs.forall(_.isInstanceOf[AttributeReference]))
              return None
            val (keyNames, keyOutIdx) = exposedKeys(analyzed, agg).getOrElse(return None)
            Some(RebuildJoinShape(lr.catalog.get.name(), lr, rr, analyzed, agg.child,
              agg.groupExprs, keyNames, keyOutIdx, analyzed.output.map(_.name),
              jt, l0, r0, cond))
          case _ => None
        }
      case _ => None
    }
  }

  /** The rebuild tier over an N-ARY (3+) INNER join tree (r15): the
    * same recompute-on-touch discipline, arity-generalized. The
    * re-execution machinery never cared about arity — substitution
    * replaces each relation INSTANCE by attribute ids, so self-joins
    * and left-/right-deep trees all work. The touched cover
    * generalizes the bilinear form: a joined TUPLE changed since the
    * checkpoints iff at least one of its component rows changed, so
    * every changed tuple appears in SOME term that substitutes deltas
    * for a non-empty SUBSET of the moved instances and heads for the
    * rest (2^m − 1 terms for m moved instances — each term joins at
    * least one delta-sized side, so all are delta-bounded). INNER
    * only: null-extension semantics stay with the 2-table shape. */
  private[engine] final case class RebuildMultiJoinShape(
      catalogName: String,
      rels: Seq[DataSourceV2Relation],
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      groupAttrs: Seq[AttributeReference],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String]) extends RecomputeOnTouch {

    def keys: Seq[(Expression, String)] = groupAttrs.map(a => (a, a.name))
    def withOutNames(declared: Seq[String]): RebuildMultiJoinShape =
      copy(declaredNames = declared)
    override def coverable(moved: Int): Boolean = moved <= MaxMovedInstances

    /** Group keys of one cover term (all-inner tree: no innerization
      * needed): the below-aggregate plan at the substituted frames,
      * projected to the group-key attrs. */
    def keysOf(spark: SparkSession, frames: Seq[DataFrame]): DataFrame =
      GraftShims.ofRows(spark, substitute(aggChild, frames))
        .select(groupAttrs.map(a => GraftShims.column(a).as(a.name)): _*)

    /** Frames of ONE cover term (r16, killing the derivation's last
      * linear head-scan input): deltas for the instances in `s`, heads
      * for the rest — each head FILE-PRUNED (and row-narrowed) by the
      * equi-join-key envelope of the deltas the tree links it to. A
      * head row outside every linked delta's [min, max] on the equated
      * column cannot satisfy that equality against any delta row, so
      * it cannot appear in this (all-inner) term — exact, not just a
      * superset argument. Heads linked to `s` only transitively (or
      * by non-equi conditions) stay unpruned.
      *
      * Returns None when the term is provably EMPTY: an empty delta
      * in `s`, or an equality whose `s`-side has no non-null values
      * (equality never matches NULL) — the caller skips the term. */
    def termFrames(
        spark: SparkSession,
        s: Set[Int],
        deltas: Map[Int, DataFrame],
        stats: Map[Int, DeltaEquiStats],
        headFrames: Seq[DataFrame],
        prunedScans: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]],
        equiPairs: Seq[(Int, String, Int, String)]): Option[Seq[DataFrame]] = {
      import org.apache.spark.sql.{sources => S}
      if (s.exists(i => stats(i).rows == 0L)) return None
      val unsat = equiPairs.exists { case (a, ca, b, cb) =>
        (s(a) && !stats(a).byCol.get(ca).forall(_._3)) ||
          (s(b) && !stats(b).byCol.get(cb).forall(_._3))
      }
      if (unsat) return None
      // TRANSITIVE closure of the equality conjuncts: in `a JOIN b ON
      // a.x = b.x JOIN c ON b.x = c.x` a Δa term bounds c's scan too —
      // the term's rows satisfy both conjuncts, so c.x = a.x. Union
      // the (instance, column) nodes into equivalence classes; a head
      // column is bounded by EVERY delta column in its class.
      val nodes = equiPairs
        .flatMap { case (a, ca, b, cb) => Seq((a, ca), (b, cb)) }.distinct
      val parent = scala.collection.mutable.Map(nodes.map(n => n -> n): _*)
      def find(n: (Int, String)): (Int, String) = {
        var x = n
        while (parent(x) != x) x = parent(x)
        x
      }
      equiPairs.foreach { case (a, ca, b, cb) =>
        val ra = find((a, ca)); val rb = find((b, cb))
        if (ra != rb) parent(ra) = rb
      }
      val classes = nodes.groupBy(find).values.toSeq
      Some(headFrames.zipWithIndex.map { case (hf, i) =>
        if (s(i)) deltas(i)
        else {
          val bounds = classes.flatMap { cls =>
            val headCols = cls.collect { case (j, c) if j == i => c }
            val deltaBs = cls.flatMap {
              case (j, c) if s(j) => stats(j).byCol.get(c)
              case _ => None
            }
            for { hc <- headCols; (mn, mx, _) <- deltaBs } yield (hc, mn, mx)
          }.filter(b => b._2 != null)
          if (bounds.isEmpty) hf
          else {
            val filters: Seq[S.Filter] = bounds.map { case (c, mn, mx) =>
              S.And(S.GreaterThanOrEqual(c, mn), S.LessThanOrEqual(c, mx))
            }
            val residual = bounds
              .map { case (c, mn, mx) => col(c) >= lit(mn) && col(c) <= lit(mx) }
              .reduce(_ && _)
            prunedScans.lift(i).flatten
              .map(scanWith => scanWith(filters).filter(residual))
              .getOrElse(hf.filter(residual))
          }
        }
      })
    }

    /** Re-execute the defining plan at the substituted frames with
      * EVERY side restricted to its touched-key projection (exact for
      * inner joins: removing a row only removes tuples) and the
      * null-safe above-aggregate semi as the exactness gate. */
    def rebuild(
        spark: SparkSession, touched: DataFrame, frames: Seq[DataFrame],
        pruned: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]])
        : DataFrame = {
      val hasKeys = rels.map(r => groupAttrs.exists(r.outputSet.contains))
      val restrictedFrames = frames.zipWithIndex.map { case (f, i) =>
        restrictFrame(keys, f, touched, rels(i).outputSet, pruned.lift(i).flatten)
      }
      // r16 ENVELOPE: a keyless side of the all-inner tree only
      // matters where it matches some key-narrowed companion — AND the
      // bounds from every directly-equated narrowed side (exact for
      // inner joins; see [[companionBounds]]).
      val eq = treeEquiPairs(aggChild, rels)
      val finalFrames = restrictedFrames.zipWithIndex.map { case (f, i) =>
        if (hasKeys(i)) f
        else {
          val narrowed = rels.indices.filter(j => j != i && hasKeys(j))
          narrowed.foldLeft[Either[Unit, Seq[(String, Any, Any)]]](Right(Nil)) {
            case (Left(()), _) => Left(())
            case (Right(acc), j) =>
              companionBounds(eq, i, j, restrictedFrames(j)).map(acc ++ _)
          } match {
            case Left(()) => f.limit(0)
            case Right(bs) => applyBounds(f, pruned.lift(i).flatten, bs)
          }
        }
      }
      rebuildAt(spark, touched, finalFrames)
    }

    /** The subset cover (r16: each moved delta persisted ONCE — it
      * feeds 2^(m−1) cover terms plus its envelope aggregation — and
      * its equi-join-key min/max bound the head scans every term joins
      * it against, so the derivation's head-side INPUT is churn-local):
      * every non-empty subset of the moved instances, deltas for the
      * subset and heads for the rest; provably-empty terms drop. */
    def touchedKeys(t: Tick): DataFrame = {
      val movedIdx = t.deltas.keys.toSeq.sorted
      val subsets = (1 until (1 << movedIdx.size)).map(mask =>
        movedIdx.zipWithIndex.collect {
          case (inst, bit) if (mask & (1 << bit)) != 0 => inst
        }.toSet)
      val terms = subsets.flatMap(s =>
        termFrames(t.spark, s, t.deltas, t.stats, t.headFrames, t.prunedHeads, t.eq)
          .map(frames => keysOf(t.spark, frames)))
      if (terms.isEmpty) keysOf(t.spark, t.headFrames).limit(0)
      else terms.reduceLeft(_ unionByName _)
    }

    def rebuildTouched(t: Tick, touched: DataFrame): DataFrame =
      rebuild(t.spark, touched, t.headFrames, t.prunedHeads)
  }

  /** Equi-key envelope of one delta (r16): row count plus per-column
    * (min, max, has-non-null) over the columns the join tree equates
    * with other sides. One churn-sized aggregation per moved
    * instance, computed on the PERSISTED delta — the price of bounding
    * every head scan the touched-key derivation joins it against. */
  private[engine] final case class DeltaEquiStats(
      rows: Long, byCol: Map[String, (Any, Any, Boolean)])

  private[engine] def deltaEquiStats(
      delta: DataFrame, cols: Seq[String]): DeltaEquiStats = {
    import org.apache.spark.sql.functions.{count, lit, max, min}
    val cs = cols.distinct
    if (cs.isEmpty) return DeltaEquiStats(delta.limit(1).count(), Map.empty)
    val aggs = cs.flatMap(c => Seq(
      min(col(c)).as(s"__mn_$c"), max(col(c)).as(s"__mx_$c"),
      count(col(c)).as(s"__ct_$c"))) :+ count(lit(1)).as("__total")
    val r = delta.agg(aggs.head, aggs.tail: _*).head()
    DeltaEquiStats(r.getAs[Long]("__total"),
      cs.map(c => c -> ((
        r.getAs[Any](s"__mn_$c"), r.getAs[Any](s"__mx_$c"),
        r.getAs[Long](s"__ct_$c") > 0L))).toMap)
  }

  /** The equi columns of instance `idx` across the tree's pairs. */
  private def equiColsOf(
      eq: Seq[(Int, String, Int, String)], idx: Int): Seq[String] = eq.flatMap {
    case (i, ci, _, _) if i == idx => Some(ci)
    case (_, _, j, cj) if j == idx => Some(cj)
    case _ => None
  }

  /** Can this delta's rows satisfy every equi conjunct instance `idx`
    * participates in? (equality never matches NULL — an all-null equi
    * column makes pair/match terms empty). */
  private def equiSat(
      eq: Seq[(Int, String, Int, String)], ds: DeltaEquiStats, idx: Int): Boolean =
    eq.forall {
      case (i, ci, _, _) if i == idx => ds.byCol.get(ci).forall(_._3)
      case (_, _, j, cj) if j == idx => ds.byCol.get(cj).forall(_._3)
      case _ => true
    }

  /** Bounds on head side `headIdx`'s columns from the delta's equi-key
    * envelope (direct pairs; the N-ary term builder closes
    * transitively). */
  private def equiBoundsFor(
      eq: Seq[(Int, String, Int, String)], headIdx: Int, ds: DeltaEquiStats)
      : Seq[(String, Any, Any)] =
    eq.flatMap {
      case (i, ci, _, cj) if i == headIdx =>
        ds.byCol.get(cj).map { case (mn, mx, _) => (ci, mn, mx) }
      case (i, ci, j, cj) if j == headIdx =>
        ds.byCol.get(ci).map { case (mn, mx, _) => (cj, mn, mx) }
      case _ => None
    }.filter(_._2 != null)

  /** Head-pinned scan, file-pruned and row-narrowed to `bounds`
    * (closed intervals on this side's columns). */
  private def prunedHeadScan(
      spark: SparkSession, t: GraftTable, h: Long,
      bounds: Seq[(String, Any, Any)]): DataFrame =
    if (bounds.isEmpty) t.scan(spark, t.AtSnapshot(h))
    else {
      import org.apache.spark.sql.{sources => S}
      val filters: Seq[S.Filter] = bounds.map { case (c, mn, mx) =>
        S.And(S.GreaterThanOrEqual(c, mn), S.LessThanOrEqual(c, mx))
      }
      val residual = bounds
        .map { case (c, mn, mx) => col(c) >= lit(mn) && col(c) <= lit(mx) }
        .reduce(_ && _)
      t.scanStatsPruned(spark, filters, t.AtSnapshot(h)).filter(residual)
    }

  /** Bounds on side `sideIdx`'s columns from a NARROWED companion
    * frame's direct equi-join-column stats (r16, the rebuild's last
    * linear scan): a non-preserved side's rows only matter where they
    * MATCH the companion — its unmatched rows never reach the output —
    * and every match satisfies the equality conjuncts, so the
    * companion's min/max keep every matching row and the join result
    * over the companion is unchanged. Returns:
    *  - Left(()) — no row can match (companion empty, or an equated
    *    companion column has no non-null values): read NOTHING;
    *  - Right(bounds) — possibly empty (no direct equality / values
    *    unconvertible): closed-interval superset bounds otherwise.
    * One churn-sized aggregation over the companion per call. */
  private[engine] def companionBounds(
      eq: Seq[(Int, String, Int, String)],
      sideIdx: Int, companionIdx: Int, companion: DataFrame)
      : Either[Unit, Seq[(String, Any, Any)]] = {
    val pairs = eq.flatMap {
      case (i, ci, j, cj) if i == sideIdx && j == companionIdx => Some((ci, cj))
      case (i, ci, j, cj) if j == sideIdx && i == companionIdx => Some((cj, ci))
      case _ => None
    }
    if (pairs.isEmpty) return Right(Nil)
    val stats = deltaEquiStats(companion, pairs.map(_._2))
    if (stats.rows == 0L) return Left(())
    if (pairs.exists { case (_, cc) => !stats.byCol.get(cc).forall(_._3) })
      return Left(()) // an all-NULL companion column: equality never matches
    Right(pairs.flatMap { case (sc, cc) =>
      stats.byCol.get(cc).collect { case (mn, mx, _) if mn != null => (sc, mn, mx) }
    })
  }

  /** Apply accumulated closed-interval bounds to a side's frame:
    * file-prune the listing when the tick supplied a pruned-scan
    * constructor, row-narrow either way. Empty bounds: unchanged. */
  private[engine] def applyBounds(
      frame: DataFrame,
      prunedScan: Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame],
      bounds: Seq[(String, Any, Any)]): DataFrame =
    if (bounds.isEmpty) frame
    else {
      import org.apache.spark.sql.{sources => S}
      val filters: Seq[S.Filter] = bounds.map { case (c, mn, mx) =>
        S.And(S.GreaterThanOrEqual(c, mn), S.LessThanOrEqual(c, mx))
      }
      val residual = bounds
        .map { case (c, mn, mx) => col(c) >= lit(mn) && col(c) <= lit(mx) }
        .reduce(_ && _)
      prunedScan match {
        case Some(scanWith) => scanWith(filters).filter(residual)
        case None => frame.filter(residual)
      }
    }

  private def splitConjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      splitConjuncts(l) ++ splitConjuncts(r)
    case other => Seq(other)
  }

  /** All `attr_i = attr_j` conjuncts of the join tree below `p`,
    * resolved to relation-INSTANCE indices (self-join instances are
    * distinct by exprId, so `outputSet.contains` is instance-exact).
    * Equalities the analyzer wrapped in casts, `<=>`, or non-equi
    * conditions simply don't appear — no pruning through them. */
  private[engine] def treeEquiPairs(
      p: LogicalPlan, rels: Seq[DataSourceV2Relation]): Seq[(Int, String, Int, String)] = {
    val pairs = scala.collection.mutable.ArrayBuffer.empty[(Int, String, Int, String)]
    p.foreach {
      case j: Join =>
        j.condition.toSeq.flatMap(splitConjuncts).foreach {
          case EqualTo(x: AttributeReference, y: AttributeReference) =>
            val xi = rels.indexWhere(_.outputSet.contains(x))
            val yi = rels.indexWhere(_.outputSet.contains(y))
            if (xi >= 0 && yi >= 0 && xi != yi)
              pairs += ((xi, x.name, yi, y.name))
          case _ => ()
        }
      case _ => ()
    }
    pairs.toSeq
  }

  /** Leaves of an all-INNER join tree with deterministic conditions —
    * None when anything else appears below. */
  private def collectInnerRelTree(p: LogicalPlan): Option[Seq[DataSourceV2Relation]] =
    belowChain(p) match {
      case Join(l, r, Inner, cond, _) if cond.forall(_.deterministic) =>
        for {
          ls <- collectInnerRelTree(l)
          rs <- collectInnerRelTree(r)
        } yield ls ++ rs
      case r: DataSourceV2Relation => Some(Seq(r))
      case _ => None
    }

  /** Analyzed plan → [[RebuildMultiJoinShape]] (3+ relations), or
    * None. Checked after the two-table rebuild shape. */
  private[engine] def rebuildMultiJoinShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[RebuildMultiJoinShape] = {
    val agg = peelAggNode(strip(analyzed)).getOrElse(return None)
    val rels = collectInnerRelTree(agg.child).getOrElse(return None)
    if (rels.size < 3) return None
    if (!rels.forall(graftRel(_).isDefined)) return None
    val catNames = rels.map(_.catalog.get.name()).distinct
    if (catNames.size != 1) return None
    val (groupAttrs, keyOutIdx) =
      attrKeys(analyzed, agg, rels.map(_.outputSet).reduce(_ ++ _)).getOrElse(return None)
    Some(RebuildMultiJoinShape(catNames.head, rels, analyzed, agg.child,
      groupAttrs, keyOutIdx, analyzed.output.map(_.name)))
  }

  /** Cover-term explosion guard, stated on the MOVED-INSTANCE count m
    * (2^m − 1 = 15 terms at the bound): past this many moved
    * instances a full recompute is the cheaper honest answer. Guarded
    * on m, not on the shifted term count, because `(1 << m) - 1`
    * wraps in Int at m ≥ 32 (the JVM masks the shift distance to
    * 5 bits) — a wrapped guard would pass, leave the subset list
    * empty, and throw on `reduceLeft` instead of falling back. */
  private val MaxMovedInstances = 4

  /** The rebuild tier over a LEFT-DEEP chain of INNER/LEFT joins with
    * 3+ sides (r16, the bread-and-butter reporting MV: `fact LEFT
    * dim1 LEFT dim2 …`). The N-ary subset cover is INNER-only — outer
    * null-extension patterns in a chain are richer than the 2-table
    * tier's (a tuple can be null-extended at any suffix of joins, and
    * star-shaped conditions even allow interior NULLs) — so this tier
    * uses a SPINE cover instead:
    *
    * every output tuple of a left-deep INNER/LEFT chain contains
    * exactly one row of the first (always-preserved) side. A tuple
    * can change only if its spine row is AFFECTED: in the spine's own
    * delta, or matching some side's delta through that join's
    * condition at the OLD or NEW state. The touched keys are then the
    * keys of the chain evaluated — with its own outer semantics, so
    * every null-extension pattern falls out for free — over the
    * affected spine rows at BOTH states: checkpoint snapshots (old
    * patterns) and heads (new patterns). Spurious rows (a deleted
    * spine row evaluated at head, an inserted one at ckpt) only widen
    * the touched superset; the rebuild recomputes them to truth.
    *
    * Restriction policy in the rebuild: only the SPINE restricts
    * (removing spine rows removes whole tuples — the spine is the
    * preserved side of every join; restricting a dim could fabricate
    * null-extensions, exactly the 2-table LEFT policy). The
    * above-aggregate null-safe semi stays the exactness gate. */
  private[engine] final case class RebuildChainShape(
      catalogName: String,
      rels: Seq[DataSourceV2Relation],
      analyzed: LogicalPlan,
      aggChild: LogicalPlan,
      prefixPlans: Seq[LogicalPlan],
      joinTypes: Seq[org.apache.spark.sql.catalyst.plans.JoinType],
      conds: Seq[Option[Expression]],
      groupAttrs: Seq[AttributeReference],
      keyOutIdx: Seq[Int],
      declaredNames: Seq[String]) extends RecomputeOnTouch {

    def keys: Seq[(Expression, String)] = groupAttrs.map(a => (a, a.name))
    def withOutNames(declared: Seq[String]): RebuildChainShape =
      copy(declaredNames = declared)

    /** Keys of the chain (its OWN join semantics — outer levels
      * null-extend, so every pattern appears) at the substituted
      * frames. The key projection is injected INTO the plan before
      * analysis: the substituted spine frame (affected rows) itself
      * nests restored relation attribute ids, so the analyzer's
      * relation dedup may rewrite ids — in-plan references get
      * rewritten consistently, post-analysis `.select` on the
      * original attr objects would not. */
    def keysOf(
        spark: SparkSession, frames: Seq[DataFrame],
        demoteFullLevel: Boolean = false): DataFrame = {
      val sub = substitute(aggChild, frames)
      GraftShims.ofRows(spark,
        Project(groupAttrs.map(a => Alias(a, a.name)(
          exprId = org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId)),
          if (demoteFullLevel) demoteFull(sub) else sub))
    }

    /** FULL level demoted to LEFT (r18). The affected-spine
      * evaluations and the part-A rebuild only owe rows CONTAINING a
      * prefix row (prefix tuples all carry a spine row — the single-
      * FULL guard); in those plans a RESTRICTED spine would make the
      * FULL join fabricate dim-side null-extensions en masse (every
      * dim row whose real partners were restricted away). Demoting
      * FULL→LEFT is exact for that row population — LEFT produces
      * precisely the prefix-row-carrying rows of FULL — and it kills
      * the fabrication instead of filtering it after the fact. The
      * dim-side null-extensions are owed by [[fullDimNullExtKeys]] /
      * the part-B rebuild, which run UNDEMOTED on unrestricted
      * frames. */
    private def demoteFull(p: LogicalPlan): LogicalPlan = {
      p.transformUp {
        case j @ Join(_, _, FullOuter, _, _) => j.copy(joinType = LeftOuter)
      }
    }

    /** Dim rows of the single FULL level `j` whose null-extension
      * status may have flipped this tick: the dim's own delta plus dim
      * rows matching (under the level's own condition) the CHANGED
      * prefix — every changed prefix tuple carries an affected-spine
      * row, so the affected-restricted enveloped prefix evaluation
      * covers them all. Delta-driven on the prefix side; the dim side
      * reads its pinned scan (the semi's probe). A superset of the
      * true flips is safe — part B recomputes those tuples exactly. */
    def fullDimCandidates(
        spark: SparkSession, j: Int, envFrames: Seq[DataFrame],
        frames: Seq[DataFrame], delta: Option[DataFrame]): DataFrame = {
      val dimNames = rels(j).output.map(_.name)
      val matchTerm = conds(j - 1) match {
        case Some(cnd) =>
          val semi = Join(restoreAttrs(rels(j), frames(j)),
            substitute(prefixPlans(j - 1), envFrames), LeftSemi,
            Some(cnd), JoinHint.NONE)
          GraftShims.ofRows(spark, Project(rels(j).output.map(a =>
            Alias(a, a.name)(exprId = org.apache.spark.sql.catalyst
              .expressions.NamedExpression.newExprId)), semi))
        case None =>
          // condition-less FULL: every dim row's match set is the
          // whole prefix — conservative, the whole dim is a candidate
          frames(j)
      }
      (delta match {
        case Some(d) => matchTerm.unionByName(d.select(dimNames.map(col): _*))
        case None => matchTerm
      }).distinct()
    }

    /** The candidates' TRUE key tuples: evaluate the chain with every
      * prefix frame EMPTIED and the FULL dim replaced by the
      * candidates — a FULL join against an empty prefix null-extends
      * every candidate (prefix attrs NULL), and the LATER levels then
      * apply their real join semantics, so key components on later
      * dims come out right too (a later condition referencing the
      * dim's columns can still match). */
    def fullDimNullExtKeys(
        spark: SparkSession, j: Int, frames: Seq[DataFrame],
        candidates: DataFrame): DataFrame =
      keysOf(spark, frames.zipWithIndex.map { case (f, i) =>
        if (i < j) f.limit(0) else if (i == j) candidates else f
      })

    /** Equality pairs LEGAL for enveloping side `j` (r17 provenance
      * fix): conjuncts of join j's OWN condition — there side j is the
      * non-preserved side, so rows failing them only null-extend side
      * j itself — plus conjuncts of LATER *INNER* levels, where a
      * failing conjunct drops the whole tuple (and the null-extension
      * created by removing the row drops at that same level, since a
      * NULL conjunct is not true). Conjuncts of later LEFT joins are
      * EXCLUDED: failing one only null-extends the LATER side, so a
      * side-j row outside such a bound (or with a NULL value, dropped
      * by applyBounds' residual) still produces `(…, sideJ, NULL, …)`
      * output tuples — enveloping it away would corrupt group keys
      * and aggregates. Conditions at level l reference sides 0..l
      * only (left-deep chain), so side j appears in levels ≥ j. */
    private[engine] def envelopePairs(j: Int): Seq[(Int, String, Int, String)] = {
      val levels = (j until rels.size).filter(l =>
        l == j || joinTypes(l - 1) == Inner)
      levels.flatMap { l =>
        conds(l - 1).toSeq
          .flatMap(GraftMaterializedViews.splitConjuncts).flatMap {
            case EqualTo(x: AttributeReference, y: AttributeReference) =>
              val xi = rels.indexWhere(_.outputSet.contains(x))
              val yi = rels.indexWhere(_.outputSet.contains(y))
              if (xi >= 0 && yi >= 0 && xi != yi) Some((xi, x.name, yi, y.name))
              else None
            case _ => None
          }
      }.filter { case (a, _, b, _) => a == j || b == j }
    }

    /** Dim frames ENVELOPED left→right by their directly-equated,
      * already-narrowed predecessors, with the (assumed narrowed)
      * spine frame in position 0 (r16). Exact wherever the dims are
      * non-preserved — every INNER/LEFT chain level: a dim row only
      * matters where it MATCHES, and the companion's equi-column
      * min/max keep every matching row. Pairs per dim come from
      * [[envelopePairs]] (r17): ONLY the dim's own join condition and
      * later INNER levels — a conjunct of a later LEFT join between
      * earlier sides must not bound this dim. Shared by the REBUILD
      * (spine restricted to touched keys) and the touched
      * DERIVATION's two chain evaluations (spine := affected rows). */
    def cascadeEnvelope(
        spark: SparkSession,
        spine: DataFrame,
        spineNarrowed: Boolean,
        frames: Seq[DataFrame],
        prunedScans: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]])
        : Seq[DataFrame] = {
      val finalFrames = Array.fill[DataFrame](frames.size)(null)
      val narrowed = Array.fill[Boolean](frames.size)(false)
      finalFrames(0) = spine
      narrowed(0) = spineNarrowed
      for (j <- 1 until frames.size) {
        val eqJ = envelopePairs(j)
        val companions = (0 until j).filter(narrowed(_))
        val enveloped = companions
          .foldLeft[Either[Unit, Seq[(String, Any, Any)]]](Right(Nil)) {
            case (Left(()), _) => Left(())
            case (Right(acc), i) =>
              GraftMaterializedViews.companionBounds(eqJ, j, i, finalFrames(i))
                .map(acc ++ _)
          }
        enveloped match {
          case Left(()) =>
            finalFrames(j) = frames(j).limit(0)
            narrowed(j) = true
          case Right(bs) =>
            finalFrames(j) = GraftMaterializedViews.applyBounds(
              frames(j), prunedScans.lift(j).flatten, bs)
            narrowed(j) = bs.nonEmpty
        }
      }
      finalFrames.toSeq
    }

    /** AFFECTED spine rows at ONE state (`frames` = per-instance
      * scans at that state): the spine's own delta rows, plus spine
      * rows whose prefix tuple matches a moved side's delta under
      * that join's condition. Each prefix component scan file-prunes
      * by the delta's DIRECT equi-condition envelope (a genuinely
      * matching tuple satisfies the conjunct, so its real components
      * survive the bounds; spurious survivors only widen the
      * superset). Projection back to spine rows goes through the
      * spine columns the prefix output still carries — a subset only
      * coarsens the match (superset, safe). */
    def affectedSpine(
        spark: SparkSession,
        frames: Seq[DataFrame],
        deltas: Map[Int, DataFrame],
        stats: Map[Int, DeltaEquiStats],
        prunedScans: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]])
        : DataFrame = {
      val terms = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
      deltas.get(0).foreach(d => terms += d)
      for ((j, dj) <- deltas.toSeq.sortBy(_._1) if j > 0 && stats(j).rows > 0L) {
        val cnd = conds(j - 1)
        // SHORTEST covering prefix (r16): the semi only needs the
        // prefix levels the condition references — a star condition
        // (spine col = dim col) semis the SPINE directly, no dim scan
        // at all. Truncating LEFT levels preserves every shorter
        // tuple; truncating INNER levels can only ADD prefix tuples —
        // a superset of affected spine rows, safe for the cover.
        val condRefs = cnd.map(_.references).getOrElse(
          org.apache.spark.sql.catalyst.expressions.AttributeSet.empty)
        // smallest prefix level whose EXCLUDED sides the condition
        // never references (l = j-1 trivially qualifies)
        val prefixLevel = (0 until j).find(l =>
          ((l + 1) until j).forall(i =>
            condRefs.intersect(rels(i).outputSet).isEmpty)).getOrElse(j - 1)
        val directPairs = cnd.toSeq.flatMap(splitConjuncts).flatMap {
          case EqualTo(x: AttributeReference, y: AttributeReference) =>
            if (rels(j).outputSet.contains(y))
              rels.indexWhere(_.outputSet.contains(x)) match {
                case i if i >= 0 && i < j => Some((i, x.name, y.name))
                case _ => None
              }
            else if (rels(j).outputSet.contains(x))
              rels.indexWhere(_.outputSet.contains(y)) match {
                case i if i >= 0 && i < j => Some((i, y.name, x.name))
                case _ => None
              }
            else None
          case _ => None
        }
        val pframes = frames.zipWithIndex.map { case (f, i) =>
          if (i >= j) f
          else {
            val bounds = directPairs.collect {
              case (pi, ci, cj) if pi == i =>
                stats(j).byCol.get(cj).map { case (mn, mx, _) => (ci, mn, mx) }
            }.flatten.filter(_._2 != null)
            if (bounds.isEmpty) f
            else prunedScans.lift(i).flatten match {
              case Some(scanWith) =>
                import org.apache.spark.sql.{sources => S}
                val filters: Seq[S.Filter] = bounds.map { case (c, mn, mx) =>
                  S.And(S.GreaterThanOrEqual(c, mn), S.LessThanOrEqual(c, mx))
                }
                scanWith(filters)
              case None => f
            }
          }
        }
        val semiPlan = Join(
          substitute(prefixPlans(prefixLevel), pframes),
          restoreAttrs(rels(j), dj), LeftSemi, cnd, JoinHint.NONE)
        val avail = semiPlan.outputSet
        val spineAttrs = rels.head.output.filter(avail.contains)
        if (spineAttrs.isEmpty) {
          // Degenerate: the covering prefix (e.g. a pass-through
          // subquery that projected the spine's columns away) carries
          // no spine attribute to project the semi back through, so
          // this moved side's term widens to the WHOLE spine — a
          // correct superset, but the only silent full-widening in
          // the tier. Count + log it so a shape regression surfaces
          // as a metric instead of a mystery slow tick (r17). The
          // stderr line is rate-limited to once per shape+level per
          // process (r18) — the counter alone carries the metric.
          GraftMaterializedViews.DegenerateSpineWidenings.incrementAndGet()
          val logKey = idents.map(nameOf).mkString(",") + s"#$j"
          if (GraftMaterializedViews.DegenerateSpineLogged.add(logKey))
            System.err.println(
              s"[graft-mv] affectedSpine: prefix level $prefixLevel for moved " +
                s"side $j carries no spine column; widening to whole spine " +
                s"(logged once per shape; see DegenerateSpineWidenings counter)")
          terms += frames(0)
        }
        else {
          val proj = GraftShims.ofRows(spark,
            Project(spineAttrs.map(a =>
              Alias(a, a.name)(
                exprId = org.apache.spark.sql.catalyst.expressions.NamedExpression.newExprId)),
              semiPlan)).distinct()
          terms += ChangelogApply.nullSafeJoin(
            frames(0), proj, spineAttrs.map(_.name), "left_semi")
        }
      }
      if (terms.isEmpty) frames(0).limit(0)
      else terms.reduceLeft(_ unionByName _)
    }

    /** Re-execute the defining plan at the substituted frames: spine
      * restricted to the touched keys it originates (file-pruned +
      * row-narrowed), dims ENVELOPED by their directly-equated,
      * already-narrowed predecessors (r16 — a dim is never preserved
      * in an INNER/LEFT chain, so its rows only matter where they
      * match; KEY-restricting a dim could fabricate null-extensions,
      * an envelope cannot). The cascade runs left→right so snowflake
      * conditions (dim-to-dim) bound through the already-enveloped
      * intermediate. Null-safe semi above the aggregate stays the
      * exactness gate. */
    def rebuild(
        spark: SparkSession, touched: DataFrame, frames: Seq[DataFrame],
        prunedScans: Seq[Option[Seq[org.apache.spark.sql.sources.Filter] => DataFrame]])
        : DataFrame = {
      val spineNarrowed = groupAttrs.exists(rels.head.outputSet.contains)
      val restricted0 = restrictFrame(keys, frames(0), touched, rels.head.outputSet,
        prunedScans.headOption.flatten)
      val finalFrames = cascadeEnvelope(
        spark, restricted0, spineNarrowed, frames, prunedScans)
      // r18: with a FULL level present this is the PART-A rebuild —
      // tuples carrying a prefix row — so the FULL level demotes to
      // LEFT (exact for that population; see demoteFull) and the
      // restricted/enveloped frames stay sound by the LEFT argument
      rebuildAt(spark, touched, finalFrames,
        if (fullLevel.isDefined) demoteFull else identity)
    }

    /** The single FULL level's dim side, if any (joinTypes(i) joins
      * rels(i + 1)). */
    private def fullLevel: Option[Int] =
      Some(joinTypes.indexWhere(_ == FullOuter) + 1).filter(_ > 0)

    /** The spine cover: the affected spine at BOTH states (checkpoints
      * and heads), and the chain's own outer semantics evaluated over
      * it at both states for the touched keys. Cost: two churn-driven
      * chain evaluations plus one delta-bounded prefix semi per moved
      * side — no exponential cover, so no moved-instance cap. */
    def touchedKeys(t: Tick): DataFrame = {
      val affected = t.persist(
        affectedSpine(t.spark, t.headFrames, t.deltas, t.stats, t.prunedHeads)
          .unionByName(affectedSpine(t.spark, t.ckptFrames, t.deltas, t.stats, t.prunedCkpts))
          .distinct())
      // both chain evaluations run with the dims ENVELOPED by the
      // affected spine's equi-column bounds (r16): matched tuples
      // and null-extensions of affected rows are unchanged, so the
      // keys are identical — and the dim scans are churn-local
      val envHead = cascadeEnvelope(
        t.spark, affected, spineNarrowed = true, t.headFrames, t.prunedHeads)
      val envCkpt = cascadeEnvelope(
        t.spark, affected, spineNarrowed = true, t.ckptFrames, t.prunedCkpts)
      // prefix-side keys (demoted when a FULL level exists — the
      // dim-side null-extension keys come from the empty-spine
      // derivation below, so the restricted evaluations never
      // fabricate them)
      val keysA = keysOf(t.spark, envHead, demoteFullLevel = fullLevel.isDefined)
        .unionByName(keysOf(t.spark, envCkpt, demoteFullLevel = fullLevel.isDefined))
      fullLevel.map { j =>
        val cHead = fullDimCandidates(t.spark, j, envHead, t.headFrames, t.deltas.get(j))
        val cCkpt = fullDimCandidates(t.spark, j, envCkpt, t.ckptFrames, t.deltas.get(j))
        keysA
          .unionByName(fullDimNullExtKeys(t.spark, j, t.headFrames, cHead))
          .unionByName(fullDimNullExtKeys(t.spark, j, t.ckptFrames, cCkpt))
      }.getOrElse(keysA)
    }

    /** r18, FULL level: tuples carrying a prefix-resident key value
      * rebuild through the restricted/enveloped part-A path (FULL
      * demoted to LEFT — exact for that population); the
      * all-prefix-keys-NULL tuples — dim-side null-extensions and
      * NULL-valued prefix keys — rebuild through part B, which only
      * executes when such tuples were actually touched: the defining
      * plan at the UNRESTRICTED head frames (no spine restriction, no
      * envelopes — for those tuples any frame surgery either fabricates
      * or loses null-extensions) with the null-safe semi as the only
      * gate. Full-scan compute, churn-sized aggregate state and write.
      * No FULL level: the part-A path alone. */
    def rebuildTouched(t: Tick, touched: DataFrame): DataFrame = fullLevel match {
      case None => rebuild(t.spark, touched, t.headFrames, t.prunedHeads)
      case Some(j) =>
        val prefixKeyCols = groupAttrs.collect {
          case a if (0 until j).exists(k => rels(k).outputSet.contains(a)) => a.name
        }
        if (prefixKeyCols.isEmpty)
          // every key lives on the FULL dim or later: every tuple is
          // in part B's population
          rebuildAt(t.spark, touched, t.headFrames)
        else {
          val touchedA = touched.filter(prefixKeyCols.map(col(_).isNotNull).reduce(_ or _))
          val touchedB = touched.filter(prefixKeyCols.map(col(_).isNull).reduce(_ and _))
          val partA = rebuild(t.spark, touchedA, t.headFrames, t.prunedHeads)
          if (touchedB.isEmpty) partA
          else partA.unionByName(rebuildAt(t.spark, touchedB, t.headFrames))
        }
    }
  }

  /** Left-deep chain of INNER/LEFT joins over DSv2 relations: returns
    * (leaves in chain order, prefix subplans, join types, conditions).
    * `prefixes(i)` is the left subtree of the join that adds side
    * `i+1` — the sides-0..i prefix WITH its interior filters. */
  private def collectLeftChainInfo(p: LogicalPlan)
      : Option[(Seq[DataSourceV2Relation], Seq[LogicalPlan],
        Seq[org.apache.spark.sql.catalyst.plans.JoinType], Seq[Option[Expression]])] = {
    belowChain(p) match {
      case Join(l, r, jt @ (Inner | LeftOuter | FullOuter), cond, _)
          if cond.forall(_.deterministic) =>
        belowChain(r) match {
          case rr: DataSourceV2Relation =>
            collectLeftChainInfo(l).map { case (rels, prefixes, jts, cs) =>
              (rels :+ rr, prefixes :+ l, jts :+ jt, cs :+ cond)
            }
          case _ => None
        }
      case r: DataSourceV2Relation => Some((Seq(r), Seq.empty, Nil, Nil))
      case _ => None
    }
  }

  /** Join-order NORMALIZATION ahead of chain detection (r17, widened
    * r18): the same reporting chain is often spelled `dim RIGHT JOIN
    * fact LEFT JOIN dim2`, with a right-deep INNER subtree, or with
    * the INNER's leaf on the LEFT of an outer subtree — all
    * semantically a left-deep INNER/LEFT chain that would otherwise
    * route to full recompute. Three EXACT rewrites, run to fixpoint:
    *  - RIGHT-outer commute: `Join(l, r, RightOuter, c)` ≡
    *    `Join(r, l, LeftOuter, c)` — the output attribute SET is
    *    unchanged and everything above references by exprId, so child
    *    order is invisible; build-side hints swap with the children.
    *  - INNER left-rotation: `X ⋈ (Y ⋈ Z)` ≡ `(X ⋈ Y) ⋈ Z` with each
    *    conjunct placed at the lowest level whose inputs it references
    *    (INNER conjuncts commute freely). GUARDED (tightened r18):
    *    rotation requires a conjunct that LINKS X and Y — references
    *    intersecting BOTH sides non-emptily and contained in X∪Y — or
    *    else `Join(X, Y)` would be an effective cross product the
    *    original plan never had (a single-sided conjunct like
    *    `d1.active = true` is ⊆ X∪Y yet links nothing); skip it, the
    *    commute below or the honest full fallback take over. Join
    *    hints carry through the rotation (r18): X and the leaves Y, Z
    *    keep their per-side hints; only the original outer hint on the
    *    COMPOSITE (Y ⋈ Z) subtree has no exact home after it
    *    dissolves, and is dropped.
    *  - INNER commute (r18): `Join(l, r, Inner, c)` ≡
    *    `Join(r, l, Inner, c)` when `r` is a LEFT-outer join subtree
    *    and `l` is a LEAF (no join below) — `dim2 INNER (fact LEFT
    *    dim1)` becomes `(fact LEFT dim1) INNER dim2`, one more
    *    left-deep chain level. Leaf-only on the left (two join
    *    subtrees would flip-flop forever) and OUTER-right only: an
    *    INNER-right subtree either left-rotates above (when a linking
    *    conjunct exists) or keeps the honest full fallback — commuting
    *    it would re-anchor the chain on a dim, a shape the tier has
    *    no rehearsal for. Hints swap with the children.
    * Outer joins are NOT rotated (they don't associate in general). */
  private[engine] def normalizeJoinOrder(p: LogicalPlan): LogicalPlan = {
    var cur = p
    var rounds = 0
    var changed = true
    while (changed && rounds < 32) {
      changed = false
      rounds += 1
      cur = cur.transformUp {
        case Join(l, r, RightOuter, cond, hint) =>
          changed = true
          Join(r, l, LeftOuter, cond, JoinHint(hint.rightHint, hint.leftHint))
        case Join(x, Join(y, z, Inner, cy, hi), Inner, cx, ho)
            if (cx.toSeq ++ cy.toSeq).flatMap(splitConjuncts).exists { c =>
              c.references.subsetOf(x.outputSet ++ y.outputSet) &&
              c.references.intersect(x.outputSet).nonEmpty &&
              c.references.intersect(y.outputSet).nonEmpty
            } =>
          changed = true
          val conj = (cx.toSeq ++ cy.toSeq).flatMap(splitConjuncts)
          val xy = x.outputSet ++ y.outputSet
          val (lower, upper) = conj.partition(_.references.subsetOf(xy))
          Join(
            Join(x, y, Inner, lower.reduceOption(And(_, _)),
              JoinHint(ho.leftHint, hi.leftHint)),
            z, Inner, upper.reduceOption(And(_, _)),
            JoinHint(None, hi.rightHint))
        case Join(l, r: Join, Inner, cond, hint)
            if r.joinType == LeftOuter && !l.exists(_.isInstanceOf[Join]) &&
              cond.forall(_.deterministic) =>
          changed = true
          Join(r, l, Inner, cond, JoinHint(hint.rightHint, hint.leftHint))
      }
    }
    cur
  }

  /** Analyzed plan → [[RebuildChainShape]], or None. Checked after
    * the all-INNER N-ary tier (which owns inner-only trees) — this
    * tier requires ≥3 sides and ≥1 LEFT level. The plan is join-order
    * NORMALIZED first (r17), and the normalized plan — semantically
    * identical — is what the shape stores and the tick re-executes. */
  private[engine] def rebuildChainShapeOf(
      spark: SparkSession, analyzed0: LogicalPlan): Option[RebuildChainShape] = {
    val analyzed = normalizeJoinOrder(analyzed0)
    val agg = peelAggNode(strip(analyzed)).getOrElse(return None)
    val (rels, prefixes, jts, conds) =
      collectLeftChainInfo(agg.child).getOrElse(return None)
    if (rels.size < 3) return None // the 2-table tier owns n = 2
    if (jts.forall(_ == Inner)) return None // all-inner: the subset tier owns it
    // ONE FULL level supported (r18): its dim-side null-extensions are
    // covered by the empty-spine key derivation + the two-part rebuild
    // below, whose soundness rests on every PREFIX tuple carrying a
    // spine row — a second FULL level below would break exactly that.
    // Multiple FULLs keep the honest full fallback (spec-pinned).
    if (jts.count(_ == FullOuter) > 1) return None
    if (!rels.forall(graftRel(_).isDefined)) return None
    val catNames = rels.map(_.catalog.get.name()).distinct
    if (catNames.size != 1) return None
    val (groupAttrs, keyOutIdx) =
      attrKeys(analyzed, agg, rels.map(_.outputSet).reduce(_ ++ _)).getOrElse(return None)
    Some(RebuildChainShape(catNames.head, rels, analyzed, agg.child, prefixes, jts, conds,
      groupAttrs, keyOutIdx, analyzed.output.map(_.name)))
  }

  /** Analyzed plan → foldable shape, or None (→ full-refresh MV).
    * Guards, each a deliberate fallback-to-full rather than an error:
    * single graft-table source; deterministic filter; all grouping
    * columns present in the output (the fold joins back on them);
    * count(*) present (the group-liveness signal `n_rows != 0` needs
    * it); at most one distinct value column; count(v) present OR v
    * non-nullable whenever sum(v) is (the NULL-sum contract needs
    * n_vals). */
  private[engine] def shapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[FoldShape] = analyzed match {
    case Aggregate(groupExprs, aggExprs, child0, _) =>
      val (cond, rel) = strip(child0) match {
        case Filter(c, r) => (Some(c), strip(r))
        case r => (None, r)
      }
      rel match {
        case r: DataSourceV2Relation if r.identifier.isDefined &&
            r.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) =>
          if (cond.exists(c => !c.deterministic)) return None
          val (outs, valueSrc, _) =
            detectAggOuts(groupExprs, aggExprs, _.name)
              .getOrElse(return None)
          val ident = r.identifier.get
          Some(FoldShape(
            r.catalog.get.name(),
            TableIdent(ident.namespace().toSeq, ident.name()),
            cond.map(unresolveByName),
            outs,
            valueSrc))
        case _ => None
      }
    case _ => None
  }

  /** The aggregate-output matcher [[shapeOf]] and [[joinShapeOf]]
    * share. `nameOf` maps a source attribute to its post-scan column
    * name (identity for one table; the join shape maps the right join
    * key onto the left's, since only one key column survives the
    * join). Returns `(outs, value column name, value attribute)`, or
    * None when any output falls outside the foldable grammar or a
    * gate (count(*) present, one value column, one family,
    * sum/avg nullability, avg-only integrality) fails. */
  private def detectAggOuts(
      groupExprs: Seq[Expression],
      aggExprs: Seq[NamedExpression],
      nameOf: AttributeReference => String)
      : Option[(Seq[OutCol], Option[String], Option[AttributeReference])] = {
    val groupAttrs = groupExprs.map {
      case a: AttributeReference => a
      case _ => return None
    }
    var valueSrc: Option[String] = None
    var valueAttr: Option[AttributeReference] = None
    def noteValue(v: AttributeReference): Boolean = valueSrc match {
      case Some(n) => n == nameOf(v)
      case None => valueSrc = Some(nameOf(v)); valueAttr = Some(v); true
    }
    val outs = aggExprs.map {
      case a: AttributeReference if groupAttrs.exists(_.exprId == a.exprId) =>
        KeyOut(nameOf(a), a.name)
      case Alias(a: AttributeReference, out)
          if groupAttrs.exists(_.exprId == a.exprId) =>
        KeyOut(nameOf(a), out)
      case Alias(AggregateExpression(Count(Seq(Literal(_, _))), _, false, None, _), out) =>
        CountStarOut(out)
      case Alias(AggregateExpression(Count(Seq(v: AttributeReference)), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        CountVOut(out)
      case Alias(AggregateExpression(Count(Seq(v: AttributeReference)), _, true, None, _), out) =>
        if (!noteValue(v)) return None
        CountDistinctOut(out)
      case Alias(AggregateExpression(Sum(v: AttributeReference, _), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        SumVOut(out)
      case Alias(AggregateExpression(Average(v: AttributeReference, _), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        AvgVOut(out)
      case Alias(AggregateExpression(Min(v: AttributeReference), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        MinVOut(out)
      case Alias(AggregateExpression(Max(v: AttributeReference), _, false, None, _), out) =>
        if (!noteValue(v)) return None
        MaxVOut(out)
      case _ => return None
    }
    val keySrcList = outs.collect { case k: KeyOut => k.srcName }
    val keyNames = keySrcList.toSet
    // duplicate post-nameOf key names (e.g. GROUP BY a.id, b.ref with
    // ON a.id = b.ref maps both onto "id"): the fold's groupBy/rename
    // machinery would collide — route to full refresh, never an error
    if (keySrcList.size != keyNames.size) return None
    if (!groupAttrs.forall(a => keyNames(nameOf(a)))) return None
    if (!outs.exists(_.isInstanceOf[CountStarOut])) return None
    val hasSum = outs.exists(_.isInstanceOf[SumVOut])
    val hasAvg = outs.exists(_.isInstanceOf[AvgVOut])
    val hasCountV = outs.exists(_.isInstanceOf[CountVOut])
    // families MAY mix (r14): applyFold joins each family's fold on
    // the group keys, so sum+min-style MVs stay incremental
    if ((hasSum || hasAvg) && !hasCountV) {
      // NULL-sum/avg contract needs n_vals; reconstructible iff v can't be NULL
      if (!valueAttr.exists(!_.nullable)) return None
    }
    if (hasAvg && !hasSum) {
      // avg-only MVs store no sum: the fold reconstructs it as
      // round(avg × n_vals), exact only for INTEGRAL values
      // (fractional sums don't survive the divide/multiply
      // round-trip) — anything else routes to full recompute
      import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
      val integral = valueAttr.exists(_.dataType match {
        case ByteType | ShortType | IntegerType | LongType => true
        case _ => false
      })
      if (!integral) return None
    }
    Some((outs, valueSrc, valueAttr))
  }

  /** Analyzed plan → the two-table [[JoinShape]], or None. Guards
    * beyond [[detectAggOuts]]'s: both sides graft tables in the SAME
    * catalog; a single-attribute inner equi-join; deterministic
    * post-join filter; and every right-side column the fold reads
    * (minus its join key, which is renamed away) name-disjoint from
    * the left table — the joined frame keeps bare names, so a
    * collision would make the fold ambiguous (full refresh handles
    * those queries correctly instead). */
  private[engine] def joinShapeOf(
      spark: SparkSession, analyzed: LogicalPlan): Option[JoinShape] = analyzed match {
    case Aggregate(groupExprs, aggExprs, child0, _) =>
      val (cond, below) = strip(child0) match {
        case Filter(c, r) => (Some(c), strip(r))
        case r => (None, r)
      }
      below match {
        case Join(l0, r0, Inner,
            Some(EqualTo(x: AttributeReference, y: AttributeReference)), _) =>
          (strip(l0), strip(r0)) match {
            case (lr: DataSourceV2Relation, rr: DataSourceV2Relation)
                if lr.identifier.isDefined && rr.identifier.isDefined &&
                  lr.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) &&
                  rr.catalog.exists(_.isInstanceOf[GraftSparkCatalog]) &&
                  lr.catalog.get.name() == rr.catalog.get.name() =>
              val lOut = l0.outputSet
              val rOut = r0.outputSet
              val (lk, rk) =
                if (lOut.contains(x) && rOut.contains(y)) (x, y)
                else if (lOut.contains(y) && rOut.contains(x)) (y, x)
                else return None
              if (cond.exists(c => !c.deterministic)) return None
              val lNames = lr.output.map(_.name).toSet
              if (rr.output.map(_.name).exists(n => n != rk.name && lNames(n)))
                return None
              def nameOf(a: AttributeReference): String =
                if (a.exprId == rk.exprId) lk.name else a.name
              // r13: every single-table family folds over the join too
              // — min/max and count-distinct recompute touched keys
              // from the JOINED base at the pinned heads (refreshJoin
              // supplies it), so no additive-only restriction remains
              detectAggOuts(groupExprs, aggExprs, nameOf)
                .map { case (outs, valueSrc, valueAttr) =>
                  val filterAttrs = cond.toSeq.flatMap(_.references.toSeq)
                    .collect { case a: AttributeReference => a }
                  val groupAttrs = groupExprs
                    .collect { case a: AttributeReference => a }
                  val needed = groupAttrs ++ valueAttr.toSeq ++ filterAttrs
                  def sideCols(out: org.apache.spark.sql.catalyst.expressions.AttributeSet,
                      jk: AttributeReference): Seq[String] =
                    needed.filter(a => out.contains(a) && a.exprId != jk.exprId)
                      .map(_.name).distinct
                  val li = lr.identifier.get
                  val ri = rr.identifier.get
                  JoinShape(
                    lr.catalog.get.name(),
                    TableIdent(li.namespace().toSeq, li.name()),
                    TableIdent(ri.namespace().toSeq, ri.name()),
                    lk.name, rk.name,
                    sideCols(lOut, lk), sideCols(rOut, rk),
                    cond.map(unresolveByNameMapped(_, Map(rk.exprId -> lk.name))),
                    FoldShape(lr.catalog.get.name(),
                      TableIdent(li.namespace().toSeq, li.name()),
                      None, outs, valueSrc))
                }
            case _ => None
          }
        case _ => None
      }
    case _ => None
  }

  private def strip(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => strip(c)
    case other => other
  }

  /** Resolved predicate → name-based unresolved twin, applicable to
    * any frame carrying the source's column names (the changelog scan
    * does). */
  private def unresolveByName(e: Expression): Expression = e.transformUp {
    case a: AttributeReference => UnresolvedAttribute(Seq(a.name))
  }

  /** [[unresolveByName]] with an exprId→name override — the join shape
    * rewrites the right join key onto the left's surviving column. */
  private def unresolveByNameMapped(
      e: Expression,
      mapped: Map[org.apache.spark.sql.catalyst.expressions.ExprId, String])
      : Expression = e.transformUp {
    case a: AttributeReference =>
      UnresolvedAttribute(Seq(mapped.getOrElse(a.exprId, a.name)))
  }

  private implicit class JavaMapOps(m: Map[String, String]) {
    def asJava: java.util.Map[String, String] = {
      val out = new java.util.HashMap[String, String]()
      m.foreach { case (k, v) => out.put(k, v) }
      out
    }
  }
}

/** CREATE MATERIALIZED VIEW ... AS <query> — rewritten from Spark's
  * `CreateMaterializedViewAsSelect` (which no built-in catalog
  * executes) by [[GraftViewCommandRewrite]]. */
final case class CreateGraftMaterializedViewCommand(
    catalog: GraftSparkCatalog,
    viewIdent: Identifier,
    userCols: Seq[String],
    partitioning: Seq[org.apache.spark.sql.connector.expressions.Transform],
    query: LogicalPlan,
    originalText: String,
    ifNotExists: Boolean,
    properties: Map[String, String])
    extends LeafRunnableCommand {
  override def output: Seq[Attribute] = Nil
  override def run(spark: SparkSession): Seq[Row] = {
    GraftMaterializedViews.create(spark, catalog, viewIdent, userCols,
      partitioning, query, originalText, ifNotExists, properties)
    Nil
  }
}
