package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MATERIALIZED VIEWS over lake tables: a
  * group-by aggregate (`count` / `sum` / `avg` / `min` / `max` /
  * exact `count(distinct)` over key columns) stored as its own lake
  * table and kept in sync with its sources by REFRESH steps that never
  * recompute the world.
  *
  * One definition ([[ViewDef]]) describes every view: a FACT leg (root,
  * optional WHERE, watermark), an optional DIM leg (root, equi-join
  * columns, optional dim WHERE, watermark), the group keys (some may be
  * derived `name := sql` expressions) and the aggregates. A single-table
  * view is a join view without a dim leg. One function ([[rows]]) turns
  * a fact frame and, on a join view, a dim frame into the view's input
  * rows; the full compute, every delta term and the dirty-group rescan
  * all go through it. With F0/D0 the leg states at the last refresh and
  * F1/D1 at head, a refresh sums the terms of the legs whose head moved:
  *
  * {{{ ΔF (⋈ D1)  ∪  F0 ⋈ ΔD }}}
  *
  * (exact in signed multiset algebra: F1⋈D1 − F0⋈D0 =
  * (F1−F0)⋈D1 + F0⋈(D1−D0)). ΔF/ΔD are the file-wise signed row diffs
  * ([[LakeTable.rowDeltas]] — key-free, exact under duplicates); the
  * F0⋈ΔD term reads the fact pruned to the dirty dim keys. The strategy
  * is picked from the aggregate set:
  *
  *   - '''pure delta''' (only `cnt`/`sum`/`avg` — avg folds from its
  *     stored sum + non-null-count support columns): the terms fold to
  *     one net delta row per touched group (entered rows +1, departed
  *     rows −1; sums sign-weighted), which MERGEs into the view — the
  *     source is never scanned, refresh cost is O(changed files)
  *     regardless of table size. Groups whose net count reaches zero are
  *     deleted. SQL `sum` null semantics are kept exact through a hidden
  *     non-null counter per sum column (`_nn_<col>`): a group whose
  *     every value is NULL reports a NULL sum even after incremental
  *     updates.
  *   - '''dirty groups''' (`min`/`max`/`cntd` present — not
  *     incrementally maintainable under deletes): the terms yield the
  *     DISTINCT touched keys; only those groups re-aggregate from the
  *     sources at head ([[dirtySource]]: one rescan, the fact read
  *     pruned by the dirty keys), then MERGE. Cost O(changes + rows of
  *     touched groups), never a full recompute.
  *
  * Exactly-once: the last-applied source versions ride in the SAME
  * manifest commit as the data change ([[LakeTable.mergeClauses]]'s
  * `metaUpdate`), so a crash between "apply" and "record" cannot
  * double-apply a delta. An empty refresh window still advances the
  * watermarks (one metadata-only commit).
  *
  * The view is an ordinary lake table: SQL reads, time travel, CDF and
  * streaming compose over it unchanged. It is bucket-partitioned on the
  * first key (`bucket:16`) with stats on every key, so refresh merges
  * prune to the touched buckets at any key cardinality.
  *
  * Reference scope: the reference engine's labs materialize aggregates
  * only as full-recompute job outputs (e.g. lab8 product totals,
  * lab10 yearly counts); this is the same result kept CURRENT under
  * row-level DML at 100 TB scale.
  */
object MatView {

  /** One aggregate column: `cnt`, or `sum:c` / `avg:c` / `min:c` /
    * `max:c` / `cntd:c` (exact COUNT(DISTINCT c)).
    */
  case class Agg(fn: String, column: String) {
    def name: String = if (fn == "cnt") "cnt" else s"${fn}_$column"
    def spec: String = if (fn == "cnt") "cnt" else s"$fn:$column"
  }

  // the definition rides the view's manifest props; ViewDef is the only
  // reader and writer of these keys
  private val PropSrc = "mv.src"
  private val PropKeys = "mv.keys"
  private val PropAggs = "mv.aggs"
  private val PropVersion = "mv.srcVersion"
  private val PropWhere = "mv.where"
  private val PropKeyExprs = "mv.keyExprs"
  private val PropDim = "mv.dim"
  private val PropJoinFact = "mv.joinFact"
  private val PropJoinDim = "mv.joinDim"
  private val PropDimVersion = "mv.dimVersion"
  private val PropDimWhere = "mv.dimWhere"

  /** One source of a view: its root, an optional row filter (row-wise
    * deterministic, so it commutes with the signed diff — a row UPDATEd
    * across the filter boundary nets to a membership change) and the
    * source version the view last applied (its watermark).
    */
  private case class Leg(root: String, where: Option[String], version: Long)

  /** A join view's dim side: the inner equi-join is
    * `fact.factKey = dim.dimKey`.
    */
  private case class DimLeg(leg: Leg, factKey: String, dimKey: String)

  /** A view's stored definition. `keyExprs` derive group keys
    * (`"decade" -> "year div 10"`), each named in `keys`.
    */
  private case class ViewDef(
      fact: Leg,
      dim: Option[DimLeg],
      keys: Seq[String],
      keyExprs: Seq[(String, String)],
      aggs: Seq[Agg]) {
    def legs: Seq[Leg] = fact +: dim.map(_.leg).toSeq
    def derived: Set[String] = keyExprs.map(_._1).toSet
    // the only keys a pruned read can prune on (derived keys have no stats arm)
    def physKeys: Seq[String] = keys.filterNot(derived)
    def deltaOnly: Boolean = aggs.forall(a => Set("cnt", "sum", "avg")(a.fn))

    /** The same view with its legs' watermarks at `versions`. */
    def at(versions: Seq[Long]): ViewDef = copy(
      fact = fact.copy(version = versions.head),
      dim = dim.map(j => j.copy(leg = j.leg.copy(version = versions.last))))

    def aggregate(input: DataFrame): DataFrame =
      input.groupBy(keys.map(col): _*).agg(aggExprs(aggs).head, aggExprs(aggs).tail: _*)

    // key-expression pairs ride one prop: records separated by U+001E
    // (never legal in a column name or SQL expression), name/expr split
    // on ':='
    def props: Map[String, String] =
      Map(PropSrc -> fact.root, PropKeys -> keys.mkString(","),
        PropAggs -> aggs.map(_.spec).mkString(","), PropVersion -> fact.version.toString) ++
        fact.where.map(PropWhere -> _) ++
        (if (keyExprs.isEmpty) Nil
         else Seq(PropKeyExprs -> keyExprs.map { case (n, e) => s"$n:=$e" }.mkString("\u001E"))) ++
        dim.toSeq.flatMap(j => Seq(PropDim -> j.leg.root, PropJoinFact -> j.factKey,
          PropJoinDim -> j.dimKey, PropDimVersion -> j.leg.version.toString) ++
          j.leg.where.map(PropDimWhere -> _))
  }

  private object ViewDef {
    def decode(p: Map[String, String]): ViewDef = ViewDef(
      Leg(p(PropSrc), p.get(PropWhere), p(PropVersion).toLong),
      p.get(PropDim).map(root => DimLeg(
        Leg(root, p.get(PropDimWhere), p(PropDimVersion).toLong), p(PropJoinFact), p(PropJoinDim))),
      p(PropKeys).split(",").toSeq,
      p.get(PropKeyExprs).toSeq.flatMap(_.split('\u001E')).filter(_.nonEmpty).map { r =>
        val i = r.indexOf(":=")
        require(i > 0, s"MatView: bad key expression encoding '$r'")
        (r.substring(0, i), r.substring(i + 2))
      },
      parseAggs(p(PropAggs)))
  }

  /** Is the lake table whose manifest carries `props` a materialized view? */
  def isView(props: Map[String, String]): Boolean = props.contains(PropSrc)

  /** Is `key` a view-definition prop? Refresh maintains them; SQL may
    * neither set nor show them.
    */
  def isInternalProp(key: String): Boolean = key.startsWith("mv.")

  /** The source versions a view reflects: the fact's, and the dim's on a
    * join view.
    */
  def appliedVersions(props: Map[String, String]): (Long, Option[Long]) = {
    val v = ViewDef.decode(props)
    (v.fact.version, v.dim.map(_.leg.version))
  }

  /** A refresh whose watermark went stale under it: a concurrent refresh
    * already applied (at least) this window, so the refresh restarts
    * from the new watermark instead of double-applying its delta.
    */
  private final class StaleRefresh(msg: String) extends RuntimeException(msg)

  def parseAggs(s: String): Seq[Agg] = s.split(",").toSeq.map(_.trim).filter(_.nonEmpty).map {
    case "cnt" => Agg("cnt", "")
    case a => a.split(":") match {
      case Array(fn, c) if Set("sum", "avg", "min", "max", "cntd")(fn) => Agg(fn, c)
      case _ => throw new IllegalArgumentException(
        s"MatView: bad aggregate '$a' (supported: cnt, sum:<col>, avg:<col>, " +
          "min:<col>, max:<col>, cntd:<col>)")
    }
  }

  /** The stored column plan for one group: `cnt` always (group liveness
    * is what drives deletes), plus each requested aggregate and its
    * hidden support columns — `sum_<c>` + `_nn_<c>` back both `sum` and
    * `avg` (shared when both are requested, deduped by name), `avg_<c>`
    * derives from them, `cntd_<c>` is an exact COUNT(DISTINCT) (not
    * incrementally maintainable under deletes — it routes the refresh
    * through the dirty-group path, like min/max).
    */
  private def storedPlan(aggs: Seq[Agg]): Seq[(String, Column)] = {
    val cols = scala.collection.mutable.LinkedHashMap[String, Column](
      "cnt" -> count(lit(1L)))
    aggs.foreach {
      case Agg("cnt", _) => ()
      case Agg("sum", c) =>
        cols.getOrElseUpdate(s"sum_$c", sum(col(c)))
        cols.getOrElseUpdate(s"_nn_$c", count(col(c)))
      case Agg("avg", c) =>
        cols.getOrElseUpdate(s"sum_$c", sum(col(c)))
        cols.getOrElseUpdate(s"_nn_$c", count(col(c)))
        cols.getOrElseUpdate(s"avg_$c", avg(col(c)))
      case Agg("min", c) => cols.getOrElseUpdate(s"min_$c", min(col(c)))
      case Agg("max", c) => cols.getOrElseUpdate(s"max_$c", max(col(c)))
      case Agg("cntd", c) =>
        cols.getOrElseUpdate(s"cntd_$c", countDistinct(col(c)))
      case other => throw new IllegalArgumentException(s"MatView: $other")
    }
    cols.toSeq
  }

  private def aggExprs(aggs: Seq[Agg]): Seq[Column] =
    storedPlan(aggs).map { case (n, e) => e.as(n) }

  private def storedCols(aggs: Seq[Agg]): Seq[String] = storedPlan(aggs).map(_._1)

  /** Reconstruct the `SELECT ...` definition a stored view's manifest
    * props encode — SHOW CREATE's render: prefixed with
    * `CREATE MATERIALIZED VIEW <name> AS` it re-executes through the
    * SQL DDL face to an equivalent view (same keys/aggs/filters, full
    * compute at the then-current source head).
    */
  def definitionSelect(
      props: Map[String, String],
      renderIdent: String => String = r => s"graft.`$r`"): String = {
    val v = ViewDef.decode(props)
    val keyExprs = v.keyExprs.toMap
    val keyItems = v.keys.map(k => keyExprs.get(k).fold(k)(e => s"$e AS $k"))
    val aggItems = v.aggs.map {
      case Agg("cnt", _) => "count(*) AS cnt"
      case Agg("cntd", c) => s"count(DISTINCT $c) AS cntd_$c"
      case Agg(fn, c) => s"$fn($c) AS ${fn}_$c"
    }
    val from = v.dim match {
      case Some(j) =>
        // qualified ON: the two join columns may legally share a name
        s"FROM ${renderIdent(v.fact.root)} f JOIN ${renderIdent(j.leg.root)} d " +
          s"ON f.`${j.factKey}` = d.`${j.dimKey}`"
      case None => s"FROM ${renderIdent(v.fact.root)}"
    }
    val where = v.legs.flatMap(_.where)
    val whereClause =
      if (where.isEmpty) "" else where.mkString("\nWHERE (", ") AND (", ")")
    val groupBy = v.keys.map(k => keyExprs.getOrElse(k, k)).mkString(", ")
    s"SELECT ${(keyItems ++ aggItems).mkString(", ")}\n$from$whereClause\nGROUP BY $groupBy"
  }

  /** Derive expression keys, then apply the WHERE filter (both row-wise
    * deterministic, so they commute with the signed diff).
    */
  private def prep(
      df: DataFrame,
      where: Option[String],
      keyExprs: Seq[(String, String)]): DataFrame = {
    val derived = keyExprs.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
    where.fold(derived)(w => derived.where(expr(w)))
  }

  private def read(spark: SparkSession, leg: Leg): DataFrame =
    LakeTable.readVersion(spark, leg.root, leg.version)

  /** The view's input rows — the relation it aggregates — over a fact
    * frame and, on a join view, a dim frame: each leg's WHERE applies to
    * its frame, then the join (if any), then the derived keys. A `_sign`
    * column on either side (a signed diff) passes through as `_sign`.
    * The same shape serves the full compute, every delta term and the
    * dirty rescan.
    */
  private def rows(v: ViewDef, fact: DataFrame, dim: Option[DataFrame]): DataFrame =
    v.dim.zip(dim).fold(prep(fact, v.fact.where, v.keyExprs)) { case (j, d) =>
      joined(v, j, prep(fact, v.fact.where, Nil), prep(d, j.leg.where, Nil))
    }

  /** The inner equi-join projected to the view's input columns plus
    * `_sign`, then the derived keys (which may mix both sides' columns).
    * Column names must be disjoint across the two sides (the dim join
    * column may share the fact join column's name — it is dropped, the
    * values are equal on every joined row).
    */
  private def joined(v: ViewDef, j: DimLeg, fact: DataFrame, dim: DataFrame): DataFrame = {
    val factCols = fact.columns.toSet - "_sign"
    val dimCols = dim.columns.toSet - "_sign"
    val shared = (factCols & dimCols) - j.dimKey
    require(shared.isEmpty,
      s"MatView join: column names must be disjoint across sides " +
        s"(shared: ${shared.mkString(", ")}; only the join column may collide)")
    // derived keys project their INPUT columns through the join, then
    // derive
    val exprRefs = v.keyExprs.flatMap { case (_, e) =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      } }
    val needed = (v.physKeys ++ exprRefs ++ v.aggs.filter(_.fn != "cnt").map(_.column))
      .distinct.filter(c => factCols.contains(c) || dimCols.contains(c))
    // the window's sign rides the side that is a signed diff; a full
    // read on both sides counts +1
    val sign =
      if (fact.columns.contains("_sign")) col("f.`_sign`")
      else if (dim.columns.contains("_sign")) col("d.`_sign`")
      else lit(1L)
    val sel = fact.as("f").join(dim.as("d"), col(s"f.`${j.factKey}`") === col(s"d.`${j.dimKey}`"))
      .select(needed.map { c =>
        if (factCols.contains(c)) col(s"f.`$c`").as(c)
        else col(s"d.`$c`").as(c)
      } :+ sign.as("_sign"): _*)
    prep(sel, None, v.keyExprs)
  }

  /** Full compute at the source's CURRENT version + view-table init.
    * One commit carries content, definition and the applied version.
    *
    * `where` filters the source (the view materializes the aggregate of
    * the filtered relation); `keyExprs` derive group keys from source
    * columns (`"decade" -> "year div 10"` — each name must appear in
    * `keys`). Both compose with every refresh path: the delta path
    * filters/derives over the signed row diff, the dirty path over the
    * pinned re-aggregation read.
    */
  def create(
      spark: SparkSession,
      mvRoot: String,
      srcRoot: String,
      keys: Seq[String],
      aggs: Seq[Agg],
      where: Option[String] = None,
      keyExprs: Seq[(String, String)] = Nil): Long =
    materialize(spark, mvRoot, "create",
      ViewDef(Leg(srcRoot, where, 0L), None, keys, keyExprs, aggs))

  /** A view over `fact ⋈ dim` (inner equi-join on `factKey = dimKey`),
    * maintained by delta-join refresh (see the object doc): a
    * fact-append refresh is O(fact changes) and a dim-update refresh
    * O(rows joining the changed dim keys).
    *
    * `where` filters the FACT side ("completed orders only"), `dimWhere`
    * the DIM side ("active customers only"); each applies to its leg on
    * the full compute, on both delta terms and on the dirty rescan.
    * `keyExprs` derives group keys from the JOINED row (either side's
    * columns — `"decade" := "o_year div 10"`), after the join.
    */
  def createJoin(
      spark: SparkSession,
      mvRoot: String,
      factRoot: String,
      dimRoot: String,
      factKey: String,
      dimKey: String,
      keys: Seq[String],
      aggs: Seq[Agg],
      where: Option[String] = None,
      dimWhere: Option[String] = None,
      keyExprs: Seq[(String, String)] = Nil): Long =
    materialize(spark, mvRoot, "createJoin",
      ViewDef(Leg(factRoot, where, 0L), Some(DimLeg(Leg(dimRoot, dimWhere, 0L), factKey, dimKey)),
        keys, keyExprs, aggs))

  private def materialize(spark: SparkSession, mvRoot: String, verb: String, v0: ViewDef): Long = {
    require(v0.keys.nonEmpty, s"MatView.$verb: at least one key column")
    require(v0.aggs.nonEmpty, s"MatView.$verb: at least one aggregate")
    v0.keyExprs.foreach { case (n, _) => require(v0.keys.contains(n),
      s"MatView.$verb: derived key $n must be listed in keys") }
    val heads = v0.legs.map(l => LakeTable.snapshot(spark, l.root))
    v0.legs.zip(heads).foreach { case (l, h) =>
      require(h.version > 0, s"MatView.$verb: no committed snapshot at ${l.root}") }
    // a derived key that SHADOWS a source column would silently change
    // what aggregates over that column aggregate (and what the dirty
    // rescan prunes on) — refuse the collision, never reinterpret
    if (v0.keyExprs.nonEmpty) {
      val cols = heads.flatMap(_.meta.get.schema.fieldNames).toSet
      v0.keyExprs.foreach { case (n, _) => require(!cols.contains(n),
        s"MatView.$verb: derived key $n shadows a source column — pick a fresh name") }
    }
    val v = v0.at(heads.map(_.version))
    val full = v.aggregate(rows(v, read(spark, v.fact), v.dim.map(j => read(spark, j.leg))))
    LakeTable.init(spark, mvRoot, full,
      partitionCol = v.keys.head,
      statsCols = v.keys,
      partitionFn = "bucket:16",
      props = v.props)
    v.fact.version
  }

  /** Applies every leg's `(lastApplied, head]` change window to the
    * view. Returns the fact version the view now reflects.
    */
  def refresh(spark: SparkSession, mvRoot: String): Long = {
    val s0 = LakeTable.snapshot(spark, mvRoot)
    require(s0.version > 0, s"MatView.refresh: no committed snapshot at $mvRoot")
    val meta = s0.meta.get
    require(isView(meta.props), s"MatView.refresh: $mvRoot is not a materialized view")
    val v = ViewDef.decode(meta.props)
    val heads = v.legs.map(l => LakeTable.snapshot(spark, l.root))
    val v1 = v.at(heads.map(_.version))
    def moved(l0: Leg, l1: Leg): Boolean = l1.version > l0.version
    if (!v.legs.zip(v1.legs).exists { case (l0, l1) => moved(l0, l1) }) return v.fact.version

    // the fact window against the dim AT HEAD (a single-table view: the
    // fact window alone). Derived keys and the WHERE apply to every
    // signed row: a row UPDATEd out of the filter nets to −1, into it
    // to +1 — exactly the filtered relation's diff
    val factTerm =
      if (!moved(v.fact, v1.fact)) None
      else Some(rows(v, LakeTable.rowDeltas(spark, v.fact.root, v.fact.version, v1.fact.version),
        v1.dim.map(j => read(spark, j.leg))))
    // the PRE-WINDOW fact against the filtered dim window — the fact
    // read prunes to the dirty dim keys (stats/Bloom), never the table
    val dimTerm = v.dim.zip(v1.dim).filter { case (j0, j1) => moved(j0.leg, j1.leg) }.map {
      case (j0, j1) =>
        val dD = LakeTable.rowDeltas(spark, j0.leg.root, j0.leg.version, j1.leg.version)
        val dirtyKeys = prep(dD, j0.leg.where, Nil)
          .select(col(s"`${j0.dimKey}`").as(j0.factKey)).distinct()
        rows(v, LakeTable.readVersionForKeys(
          spark, v.fact.root, v.fact.version, Seq(j0.factKey), dirtyKeys), Some(dD))
    }
    val changes = (factTerm.toSeq ++ dimTerm.toSeq).reduce(_.unionByName(_))

    // the stamp VALIDATES the watermarks on the same snapshot the merge
    // commits against: a concurrent refresh that already applied (at
    // least) our window advanced them, and re-applying our delta on top
    // would double-count it — abort and recompute instead. mergeClauses
    // re-runs metaUpdate on every retry snapshot, so the check rides the
    // same atomic commit.
    val stamp = (m: LakeTable.TableMeta) => {
      if (ViewDef.decode(m.props).legs.map(_.version) != v.legs.map(_.version))
        throw new StaleRefresh("MatView.refresh: stale refresh watermark (view advanced " +
          s"past ${v.legs.map(_.version).mkString("/")} concurrently)")
      m.copy(props = m.props ++ v1.props)
    }
    // the dirty keys feed the fact read's key fold and the merge source:
    // persisted so the delta terms evaluate once
    val dirty =
      if (v.deltaOnly) None
      else Some(changes.select(v.keys.map(col): _*).distinct()
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
    val stored = storedCols(v.aggs)

    // matched groups: dead (post-refresh cnt NULL or <= 0) delete,
    // live update; unseen-but-live groups insert. The __s_cnt guard on
    // INSERT skips windows that net to "never existed".
    val matched = Seq(
      LakeTable.MergeBranch(Some(deadCond(v.deltaOnly)), None),
      LakeTable.MergeBranch(None, Some(
        stored.map(c => c -> updateValue(v.deltaOnly, c)).toMap)))
    val notMatched = Seq(
      LakeTable.MergeBranch(Some(liveInsertCond(v.deltaOnly)), Some(
        (v.keys.map(k => k -> col(s"__s_$k")) ++
          stored.map(c => c -> insertValue(v.deltaOnly, c))).toMap)))
    try {
      try {
        val source = dirty.fold(deltaSource(changes, v.keys, v.aggs))(
          dirtySource(spark, v1, heads.head, _))
        inheritWidenings(spark, mvRoot, meta, v.keys ++ stored, source)
        // nullSafeKeys: GROUP BY treats NULL as a real group — the view
        // merge must match it, or every refresh re-inserts the NULL group
        LakeTable.mergeClauses(
          spark, mvRoot, source, v.keys, matched, notMatched, Nil,
          partitionCol = meta.partitionCol, metaUpdate = stamp, nullSafeKeys = true)
      } finally dirty.foreach(_.unpersist())
      v1.fact.version
    } catch {
      case _: StaleRefresh =>
        // a concurrent refresh covered our window — restart from its
        // watermark (terminates: the watermark strictly advances)
        refresh(spark, mvRoot)
    }
  }

  /** The view INHERITS safe type widenings from its source: after
    * `ALTER COLUMN TYPE` on the source, refresh deltas arrive in the
    * wide type, and merging them into the view's frozen CREATE-time
    * columns would cast back down — a crisp ANSI overflow on the first
    * wide value, leaving the view permanently un-refreshable. Any view
    * column (group key or stored aggregate) whose incoming `__s_` type
    * is a safe widening of its stored type widens the VIEW first, via
    * the same metadata-only commit as the source's ALTER (the stamp
    * validation is untouched — alterTable carries props verbatim). A
    * widened view PARTITION key still refuses inside alterTable
    * (transform spaces are type-bound) — crisply, nothing committed.
    */
  private def inheritWidenings(
      spark: SparkSession,
      mvRoot: String,
      meta: LakeTable.TableMeta,
      viewCols: Seq[String],
      source: DataFrame): Unit = {
    val widen = viewCols.distinct.flatMap { c =>
      for {
        sf <- source.schema.fields.find(_.name == s"__s_$c")
        vf <- meta.schema.fields.find(_.name == c)
        if LakeTable.widens(vf.dataType, sf.dataType)
      } yield c -> sf.dataType
    }.toMap
    if (widen.nonEmpty) LakeTable.alterTable(spark, mvRoot, widenColumns = widen)
  }

  /** Pure-delta source: one NET aggregate row per touched group,
    * straight off the signed row diff — `__s_cnt` is the net row-count
    * change, `__s_sum_<c>`/`__s__nn_<c>` the net sum/non-null-count
    * change. No source scan.
    */
  private def deltaSource(changes: DataFrame, keys: Seq[String], aggs: Seq[Agg]): DataFrame = {
    val sign = col("_sign")
    // sum and avg share their sum_/nn_ support deltas (deduped by name);
    // avg_<c> itself has no delta — update/insertValue re-derive it from
    // the updated support columns
    val dMap = scala.collection.mutable.LinkedHashMap[String, Column]("cnt" -> sum(sign))
    aggs.filter(a => a.fn == "sum" || a.fn == "avg").foreach { a =>
      dMap.getOrElseUpdate(s"sum_${a.column}", sum(sign * col(a.column)))
      dMap.getOrElseUpdate(s"_nn_${a.column}",
        sum(when(col(a.column).isNotNull, sign)))
    }
    val dCols = dMap.toSeq.map { case (n, e) => e.as(n) }
    val g = changes.groupBy(keys.map(col): _*).agg(dCols.head, dCols.tail: _*)
    g.select(
      keys.map(col) ++ keys.map(k => col(k).as(s"__s_$k")) ++
        g.columns.filterNot(keys.contains).toSeq.map(c => col(c).as(s"__s_$c")): _*)
  }

  /** Dirty-group source: `dirty`, the DISTINCT touched keys of the delta
    * terms, re-aggregated from the sources AT THE PINNED heads (`v` carries the
    * head watermarks; groups the window killed come back with NULL
    * aggregates → DELETE). One rescan for both view shapes: the fact read
    * is entry-pruned (stats/Bloom) by the dirty PHYSICAL fact-side keys,
    * or — when every view key is a physical dim column (the common
    * "GROUP BY segment" shape) — through the fact join-key values of the
    * dirty dim rows; otherwise it reads the pinned version. The input rows
    * are then semi-joined to the dirty keys and re-aggregated — candidate
    * files only, never the table.
    */
  private def dirtySource(
      spark: SparkSession,
      v: ViewDef,
      factHead: LakeTable.Snapshot,
      dirty: DataFrame): DataFrame = {
    val keys = v.keys
    def keyEq(l: String, r: String): Column =
      keys.map(k => col(s"$l.`$k`") <=> col(s"$r.`$k`")).reduce(_ && _)
    val dim1 = v.dim.map(j => read(spark, j.leg))
    val factCols = factHead.meta.get.schema.fieldNames.toSet
    val factKeys = v.physKeys.filter(factCols.contains)
    // a NULL dirty key reads the unpruned version (readVersionForKeys)
    val fact1 =
      if (factKeys.nonEmpty)
        LakeTable.readVersionForKeys(spark, v.fact.root, v.fact.version, factKeys,
          dirty.select(factKeys.map(col): _*).distinct())
      else v.dim.zip(dim1) match {
        case Some((j, d1)) if keys.forall(k => !v.derived(k) && d1.columns.contains(k)) =>
          // the dirty groups name DIM rows, and only fact rows joining
          // those rows can belong to a dirty group (the dim is the small
          // side; its dirty slice is smaller still)
          val dirtyFks = prep(d1, j.leg.where, Nil).as("d")
            .join(broadcast(dirty).as("x"), keyEq("d", "x"), "left_semi")
            .select(col(s"`${j.dimKey}`").as(j.factKey))
            .where(col(s"`${j.factKey}`").isNotNull).distinct()
          LakeTable.readVersionForKeys(spark, v.fact.root, v.fact.version, Seq(j.factKey), dirtyFks)
        case _ => read(spark, v.fact)
      }
    val recomputed = v.aggregate(rows(v, fact1, dim1).as("b")
      .join(broadcast(dirty).as("d"), keyEq("b", "d"), "left_semi"))
    dirty.as("d").join(recomputed.as("r"), keyEq("d", "r"), "left").select(
      keys.map(k => col(s"d.`$k`").as(k)) ++ keys.map(k => col(s"d.`$k`").as(s"__s_$k")) ++
        storedCols(v.aggs).map(c => col(s"r.`$c`").as(s"__s_$c")): _*)
  }

  // ---- merge branch value expressions ---------------------------------

  private def deadCond(deltaOnly: Boolean): Column =
    if (deltaOnly) col("cnt") + coalesce(col("__s_cnt"), lit(0L)) <= 0
    else col("__s_cnt").isNull

  private def liveInsertCond(deltaOnly: Boolean): Column =
    if (deltaOnly) coalesce(col("__s_cnt"), lit(0L)) > 0 else col("__s_cnt").isNotNull

  /** Post-refresh value of stored column `c` for a MATCHED group. */
  private def updateValue(deltaOnly: Boolean, c: String): Column =
    if (!deltaOnly) col(s"__s_$c")
    else if (c == "cnt" || c.startsWith("_nn_"))
      coalesce(col(c), lit(0L)) + coalesce(col(s"__s_$c"), lit(0L))
    else if (c.startsWith("avg_")) { // derived from the UPDATED support columns
      val base = c.stripPrefix("avg_")
      val newNn = coalesce(col(s"_nn_$base"), lit(0L)) +
        coalesce(col(s"__s__nn_$base"), lit(0L))
      val newSum = coalesce(col(s"sum_$base"), lit(0L)) +
        coalesce(col(s"__s_sum_$base"), lit(0L))
      when(newNn <= 0, lit(null)).otherwise(newSum.cast("double") / newNn)
    }
    else { // sum_<x>: NULL when no non-null value remains (SQL sum)
      val nn = s"_nn_${c.stripPrefix("sum_")}"
      val newNn = coalesce(col(nn), lit(0L)) + coalesce(col(s"__s_$nn"), lit(0L))
      when(newNn <= 0, lit(null))
        .otherwise(coalesce(col(c), lit(0L)) + coalesce(col(s"__s_$c"), lit(0L)))
    }

  /** Value of stored column `c` for an unmatched INSERTED group. */
  private def insertValue(deltaOnly: Boolean, c: String): Column =
    if (!deltaOnly) col(s"__s_$c")
    else if (c == "cnt" || c.startsWith("_nn_")) coalesce(col(s"__s_$c"), lit(0L))
    else if (c.startsWith("avg_")) {
      val base = c.stripPrefix("avg_")
      when(coalesce(col(s"__s__nn_$base"), lit(0L)) <= 0, lit(null))
        .otherwise(coalesce(col(s"__s_sum_$base"), lit(0L)).cast("double") /
          col(s"__s__nn_$base"))
    }
    else {
      val nn = s"_nn_${c.stripPrefix("sum_")}"
      when(coalesce(col(s"__s_$nn"), lit(0L)) <= 0, lit(null)).otherwise(col(s"__s_$c"))
    }
}
