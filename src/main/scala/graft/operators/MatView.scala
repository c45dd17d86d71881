package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incrementally-maintained MATERIALIZED VIEWS over lake tables: a
  * group-by aggregate (`count` / `sum` / `avg` / `min` / `max` /
  * exact `count(distinct)` over key columns) stored as its own lake
  * table and kept in sync with the source by REFRESH steps that never
  * recompute the world.
  *
  * Refresh strategy is picked from the aggregate set:
  *
  *   - '''pure delta''' (only `cnt`/`sum`/`avg` — avg folds from its
  *     stored sum + non-null-count support columns): the source's SIGNED row
  *     diff over the window ([[LakeTable.rowDeltas]] — file-wise,
  *     key-free, exact under duplicates) folds to one net delta row
  *     per touched group (entered rows +1, departed rows −1; sums
  *     sign-weighted), which MERGEs into the view — '''the source is
  *     never scanned''', refresh cost is O(changed files) regardless
  *     of table size. Groups whose net count reaches zero are deleted.
  *     SQL `sum` null semantics are kept exact through a hidden
  *     non-null counter per sum column (`_nn_<col>`): a group whose
  *     every value is NULL reports a NULL sum even after incremental
  *     updates.
  *   - '''dirty groups''' (`min`/`max`/`cntd` present — not
  *     incrementally maintainable under deletes): the change feed yields the DISTINCT
  *     touched keys; only those groups re-aggregate from the source
  *     (a semi join the scan layer prunes by stats/Bloom/partition),
  *     then MERGE. Cost O(changes + rows of touched groups), never a
  *     full recompute.
  *
  * Exactly-once: the last-applied source version rides in the SAME
  * manifest commit as the data change ([[LakeTable.mergeClauses]]'s
  * `metaUpdate`), so a crash between "apply" and "record" cannot
  * double-apply a delta. An empty refresh window still advances the
  * watermark (one metadata-only commit).
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

  private val PropSrc = "mv.src"
  private val PropKeys = "mv.keys"
  private val PropAggs = "mv.aggs"
  private val PropVersion = "mv.srcVersion"
  // filtered/projected views: an optional WHERE predicate over the
  // source (applied to full compute AND to every signed delta — a
  // row-wise deterministic filter commutes with the diff), and derived
  // group-key expressions `name := sql` (re-derived on each delta row
  // before grouping)
  private val PropWhere = "mv.where"
  private val PropKeyExprs = "mv.keyExprs"
  // join views (fact ⋈ dim): the dim side's root, the equi-join columns
  // and the dim-side watermark — present only on views over a join
  private val PropDim = "mv.dim"
  private val PropJoinFact = "mv.joinFact"
  private val PropJoinDim = "mv.joinDim"
  private val PropDimVersion = "mv.dimVersion"
  // optional DIM-side filter on a join view ("active customers only"):
  // row-wise deterministic, so it commutes with the signed dim diff the
  // same way mv.where commutes with the fact diff
  private val PropDimWhere = "mv.dimWhere"

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

  // pairs ride one manifest prop: records separated by U+001E (never
  // legal in a column name or SQL expression), name/expr split on ':='
  private def encodeKeyExprs(ke: Seq[(String, String)]): String =
    ke.map { case (n, e) => s"$n:=$e" }.mkString("\u001E")

  private def decodeKeyExprs(s: String): Seq[(String, String)] =
    s.split('\u001E').toSeq.filter(_.nonEmpty).map { p =>
      val i = p.indexOf(":=")
      require(i > 0, s"MatView: bad key expression encoding '$p'")
      (p.substring(0, i), p.substring(i + 2))
    }

  /** Reconstruct the `SELECT ...` definition a stored view's manifest
    * props encode — SHOW CREATE's render: prefixed with
    * `CREATE MATERIALIZED VIEW <name> AS` it re-executes through the
    * SQL DDL face to an equivalent view (same keys/aggs/filters, full
    * compute at the then-current source head).
    */
  def definitionSelect(
      props: Map[String, String],
      renderIdent: String => String = r => s"graft.`$r`"): String = {
    val keys = props(PropKeys).split(",").toSeq
    val keyExprs = props.get(PropKeyExprs).map(decodeKeyExprs).getOrElse(Nil).toMap
    val aggs = parseAggs(props(PropAggs))
    val keyItems = keys.map(k => keyExprs.get(k).fold(k)(e => s"$e AS $k"))
    val aggItems = aggs.map {
      case Agg("cnt", _) => "count(*) AS cnt"
      case Agg("cntd", c) => s"count(DISTINCT $c) AS cntd_$c"
      case Agg(fn, c) => s"$fn($c) AS ${fn}_$c"
    }
    val from = props.get(PropDim) match {
      case Some(dim) =>
        // qualified ON: the two join columns may legally share a name
        s"FROM ${renderIdent(props(PropSrc))} f JOIN ${renderIdent(dim)} d " +
          s"ON f.`${props(PropJoinFact)}` = d.`${props(PropJoinDim)}`"
      case None => s"FROM ${renderIdent(props(PropSrc))}"
    }
    val where = props.get(PropWhere).toSeq ++ props.get(PropDimWhere).toSeq
    val whereClause =
      if (where.isEmpty) "" else where.mkString("\nWHERE (", ") AND (", ")")
    val groupBy = keys.map(k => keyExprs.getOrElse(k, k)).mkString(", ")
    s"SELECT ${(keyItems ++ aggItems).mkString(", ")}\n$from$whereClause\nGROUP BY $groupBy"
  }

  /** Derive expression keys, then apply the WHERE filter — on the full
    * compute and on every signed delta identically (both are row-wise
    * deterministic, so they commute with the diff).
    */
  private def prep(
      df: DataFrame,
      where: Option[String],
      keyExprs: Seq[(String, String)]): DataFrame = {
    val derived = keyExprs.foldLeft(df) { case (d, (n, e)) => d.withColumn(n, expr(e)) }
    where.fold(derived)(w => derived.where(expr(w)))
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
      keyExprs: Seq[(String, String)] = Nil): Long = {
    require(keys.nonEmpty, "MatView.create: at least one key column")
    require(aggs.nonEmpty, "MatView.create: at least one aggregate")
    keyExprs.foreach { case (n, _) => require(keys.contains(n),
      s"MatView.create: derived key $n must be listed in keys") }
    val head = LakeTable.snapshot(spark, srcRoot).version
    require(head > 0, s"MatView.create: no committed snapshot at $srcRoot")
    // a derived key that SHADOWS a source column would silently change
    // what aggregates over that column aggregate (and what the dirty
    // rescan prunes on) — refuse the collision, never reinterpret
    if (keyExprs.nonEmpty) {
      val srcCols = LakeTable.snapshot(spark, srcRoot).meta.get.schema.fieldNames.toSet
      keyExprs.foreach { case (n, _) => require(!srcCols.contains(n),
        s"MatView.create: derived key $n shadows a source column — pick a fresh name") }
    }
    val full = prep(LakeTable.readVersion(spark, srcRoot, head), where, keyExprs)
      .groupBy(keys.map(col): _*).agg(aggExprs(aggs).head, aggExprs(aggs).tail: _*)
    LakeTable.init(spark, mvRoot, full,
      partitionCol = keys.head,
      statsCols = keys,
      partitionFn = "bucket:16",
      props = Map(
        PropSrc -> srcRoot, PropKeys -> keys.mkString(","),
        PropAggs -> aggs.map(_.spec).mkString(","), PropVersion -> head.toString) ++
        where.map(PropWhere -> _).toMap ++
        (if (keyExprs.nonEmpty) Map(PropKeyExprs -> encodeKeyExprs(keyExprs)) else Map.empty))
    head
  }

  /** A view over `fact ⋈ dim` (inner equi-join on `factKey = dimKey`),
    * maintained by DELTA-JOIN refresh: with F0/D0 the states at the last
    * refresh and F1/D1 at head,
    *
    * {{{ Δ(F ⋈ D) = ΔF ⋈ D1  ∪  F0 ⋈ ΔD }}}
    *
    * (exact in signed multiset algebra: F1⋈D1 − F0⋈D0 =
    * (F1−F0)⋈D1 + F0⋈(D1−D0)). ΔF/ΔD are the file-wise signed row
    * diffs; the F0⋈ΔD term reads the fact PRUNED to the dirty dim keys
    * (stats/Bloom — never the fact table), so a fact-append refresh is
    * O(fact changes) and a dim-update refresh O(rows joining the
    * changed dim keys). The delta family (cnt/sum/avg) folds from the
    * terms directly; min/max/cntd use the SAME terms only to find the
    * touched group keys, then re-aggregate those groups from the join
    * at head with the fact read pruned to the dirty fact-side keys — a
    * dirty-group rescan of the join, never a full recompute.
    *
    * Column names must be disjoint across the two sides (the dim join
    * column may share the fact join column's name — it is dropped, the
    * values are equal on every joined row).
    */
  /** `where` filters the FACT side (the "completed orders only" shape):
    * it applies identically to the full compute, to both delta terms
    * (ΔF filtered before the join — row-wise deterministic transforms
    * commute with the signed diff — and F0 filtered in the dim term)
    * and to the dirty rescan's fact read, so every refresh path
    * maintains the filtered join exactly. `dimWhere` filters the DIM
    * side ("active customers only") by the same commutation: a dim row
    * UPDATEd across the filter boundary nets to a membership change in
    * the filtered dim's signed diff, so one delta refresh folds it.
    */
  /** `keyExprs` derives group keys from the JOINED row (either side's
    * columns — `"decade" := "o_year div 10"`): derivation runs after the
    * join on the full compute and on every delta term identically
    * (row-wise deterministic, so it commutes with the signed diffs).
    * Derived keys have no stats arm, so the dirty-rescan fact pruning
    * uses only the PHYSICAL keys (all-derived key sets fall back to the
    * pinned full scan — sound, one pass).
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
      keyExprs: Seq[(String, String)] = Nil): Long = {
    require(keys.nonEmpty, "MatView.createJoin: at least one key column")
    require(aggs.nonEmpty, "MatView.createJoin: at least one aggregate")
    keyExprs.foreach { case (n, _) => require(keys.contains(n),
      s"MatView.createJoin: derived key $n must be listed in keys") }
    val headF = LakeTable.snapshot(spark, factRoot).version
    val headD = LakeTable.snapshot(spark, dimRoot).version
    require(headF > 0 && headD > 0, "MatView.createJoin: both sources need a snapshot")
    // same shadowing refusal as create(): a derived key named like a
    // physical column of either side would silently redirect aggregates
    // and the dirty-rescan pruning
    if (keyExprs.nonEmpty) {
      val cols = LakeTable.snapshot(spark, factRoot).meta.get.schema.fieldNames.toSet ++
        LakeTable.snapshot(spark, dimRoot).meta.get.schema.fieldNames.toSet
      keyExprs.foreach { case (n, _) => require(!cols.contains(n),
        s"MatView.createJoin: derived key $n shadows a source column — pick a fresh name") }
    }
    val full = joined(
      prep(LakeTable.readVersion(spark, factRoot, headF), where, Nil),
      prep(LakeTable.readVersion(spark, dimRoot, headD), dimWhere, Nil),
      factKey, dimKey, keys, aggs, col("f.`__one`"), keyExprs)
      .groupBy(keys.map(col): _*).agg(aggExprs(aggs).head, aggExprs(aggs).tail: _*)
    LakeTable.init(spark, mvRoot, full,
      partitionCol = keys.head,
      statsCols = keys,
      partitionFn = "bucket:16",
      props = Map(
        PropSrc -> factRoot, PropDim -> dimRoot,
        PropJoinFact -> factKey, PropJoinDim -> dimKey,
        PropKeys -> keys.mkString(","),
        PropAggs -> aggs.map(_.spec).mkString(","),
        PropVersion -> headF.toString, PropDimVersion -> headD.toString) ++
        where.map(PropWhere -> _).toMap ++
        dimWhere.map(PropDimWhere -> _).toMap ++
        (if (keyExprs.nonEmpty) Map(PropKeyExprs -> encodeKeyExprs(keyExprs)) else Map.empty))
    headF
  }

  /** The inner equi-join projected to the view's input columns plus a
    * `_sign` column (`signCol` — `f.__one`/`d.__one` select which side
    * carries the window's sign; both sides get a constant `__one` so
    * the same shape serves full compute and both delta terms).
    */
  private def joined(
      fact: DataFrame,
      dim: DataFrame,
      factKey: String,
      dimKey: String,
      keys: Seq[String],
      aggs: Seq[Agg],
      signCol: Column,
      keyExprs: Seq[(String, String)] = Nil): DataFrame = {
    val f = (if (fact.columns.contains("_sign")) fact
             else fact.withColumn("_sign", lit(1L))).withColumnRenamed("_sign", "__one")
    val d = (if (dim.columns.contains("_sign")) dim
             else dim.withColumn("_sign", lit(1L))).withColumnRenamed("_sign", "__one")
    val factCols = f.columns.toSet - "__one"
    val dimCols = d.columns.toSet - "__one"
    val shared = (factCols & dimCols) - dimKey
    require(shared.isEmpty,
      s"MatView join: column names must be disjoint across sides " +
        s"(shared: ${shared.mkString(", ")}; only the join column may collide)")
    // derived keys project their INPUT columns through the join, then
    // derive — the key expression may mix both sides' columns
    val exprRefs = keyExprs.flatMap { case (_, e) =>
      org.apache.spark.sql.catalyst.parser.CatalystSqlParser.parseExpression(e).collect {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute =>
          a.nameParts.last
      } }
    val physKeys = keys.filterNot(k => keyExprs.exists(_._1 == k))
    val needed = (physKeys ++ exprRefs ++ aggs.filter(_.fn != "cnt").map(_.column))
      .distinct.filter(c => factCols.contains(c) || dimCols.contains(c))
    val sel = f.as("f").join(d.as("d"), col(s"f.`$factKey`") === col(s"d.`$dimKey`"))
      .select(needed.map { c =>
        if (factCols.contains(c)) col(s"f.`$c`").as(c)
        else col(s"d.`$c`").as(c)
      } :+ signCol.as("_sign"): _*)
    keyExprs.foldLeft(sel) { case (df, (n, e)) => df.withColumn(n, expr(e)) }
  }

  /** Applies the source's `(lastApplied, head]` change window to the
    * view. Returns the source version the view now reflects.
    */
  def refresh(spark: SparkSession, mvRoot: String): Long = {
    val s0 = LakeTable.snapshot(spark, mvRoot)
    require(s0.version > 0, s"MatView.refresh: no committed snapshot at $mvRoot")
    val meta = s0.meta.get
    val d = meta.props
    require(d.contains(PropSrc), s"MatView.refresh: $mvRoot is not a materialized view")
    if (d.contains(PropDim)) return refreshJoin(spark, mvRoot, meta)
    val (src, keys, aggs, last) = (
      d(PropSrc), d(PropKeys).split(",").toSeq, parseAggs(d(PropAggs)), d(PropVersion).toLong)
    val (where, keyExprs) =
      (d.get(PropWhere), d.get(PropKeyExprs).map(decodeKeyExprs).getOrElse(Nil))
    val head = LakeTable.snapshot(spark, src).version
    if (head <= last) return last

    // the SIGNED row diff of the whole window — file-wise, key-free,
    // exact under duplicates; intermediate states net out. Derived keys
    // and the view's WHERE apply to every signed row (a row UPDATEd out
    // of the filter nets to −1, into it to +1 — exactly the filtered
    // relation's diff)
    val changes = prep(LakeTable.rowDeltas(spark, src, last, head), where, keyExprs)
    // the stamp VALIDATES the watermark on the same snapshot the merge
    // commits against: a concurrent refresh that already applied (at
    // least) our window advanced mv.srcVersion, and re-applying our
    // delta on top would double-count it — abort and recompute instead.
    // mergeClauses re-runs metaUpdate on every retry snapshot, so the
    // check rides the same atomic commit.
    val stamp = (m: LakeTable.TableMeta) => {
      if (!m.props.get(PropVersion).contains(last.toString))
        throw new StaleRefresh(
          s"MatView.refresh: stale refresh watermark (view advanced past $last concurrently)")
      m.copy(props = m.props + (PropVersion -> head.toString))
    }
    val deltaOnly = aggs.forall(a => Set("cnt", "sum", "avg")(a.fn))
    val source =
      if (deltaOnly) deltaSource(changes, keys, aggs)
      else dirtySource(spark, src, head, changes, keys, aggs,
        physKeys = keys.filterNot(k => keyExprs.exists(_._1 == k)),
        prepFn = prep(_, where, keyExprs))
    val stored = storedCols(aggs)
    inheritWidenings(spark, mvRoot, meta, keys ++ stored, source)

    // matched groups: dead (post-refresh cnt NULL or <= 0) delete,
    // live update; unseen-but-live groups insert. The __s_cnt guard on
    // INSERT skips windows that net to "never existed".
    val matched = Seq(
      LakeTable.MergeBranch(Some(deadCond(deltaOnly)), None),
      LakeTable.MergeBranch(None, Some(
        stored.map(c => c -> updateValue(deltaOnly, c)).toMap)))
    val notMatched = Seq(
      LakeTable.MergeBranch(Some(liveInsertCond(deltaOnly)), Some(
        (keys.map(k => k -> col(s"__s_$k")) ++
          stored.map(c => c -> insertValue(deltaOnly, c))).toMap)))
    try {
      // nullSafeKeys: GROUP BY treats NULL as a real group — the view
      // merge must match it, or every refresh re-inserts the NULL group
      LakeTable.mergeClauses(
        spark, mvRoot, source, keys, matched, notMatched, Nil,
        partitionCol = meta.partitionCol, metaUpdate = stamp, nullSafeKeys = true)
      head
    } catch {
      case _: StaleRefresh =>
        // a concurrent refresh covered our window — restart from its
        // watermark (terminates: the watermark strictly advances)
        refresh(spark, mvRoot)
    }
  }

  /** Delta-join refresh: ΔF ⋈ D1 ∪ F0 ⋈ ΔD folded to net per-group
    * deltas, merged under BOTH watermarks in one atomic commit.
    */
  private def refreshJoin(spark: SparkSession, mvRoot: String, meta: LakeTable.TableMeta): Long = {
    val d = meta.props
    val (fact, dim) = (d(PropSrc), d(PropDim))
    val (fk, dk) = (d(PropJoinFact), d(PropJoinDim))
    val (keys, aggs) = (d(PropKeys).split(",").toSeq, parseAggs(d(PropAggs)))
    val where = d.get(PropWhere)
    val dimWhere = d.get(PropDimWhere)
    val keyExprs = d.get(PropKeyExprs).map(decodeKeyExprs).getOrElse(Nil)
    val (lastF, lastD) = (d(PropVersion).toLong, d(PropDimVersion).toLong)
    val headF = LakeTable.snapshot(spark, fact).version
    val headD = LakeTable.snapshot(spark, dim).version
    if (headF <= lastF && headD <= lastD) return lastF

    // term 1: the fact window joined against the FILTERED dim AT HEAD
    val term1 =
      if (headF <= lastF) None
      else Some(joined(prep(LakeTable.rowDeltas(spark, fact, lastF, headF), where, Nil),
        prep(LakeTable.readVersion(spark, dim, headD), dimWhere, Nil),
        fk, dk, keys, aggs, col("f.`__one`"), keyExprs))
    // term 2: the PRE-WINDOW fact joined against the FILTERED dim
    // window (a dim row crossing the filter boundary is a membership
    // change in the filtered diff) — the fact read prunes to the dirty
    // dim keys (stats/Bloom), never the table
    val term2 =
      if (headD <= lastD) None
      else {
        val dD = prep(LakeTable.rowDeltas(spark, dim, lastD, headD), dimWhere, Nil)
        val dirtyKeys = dD.select(col(s"`$dk`").as(fk)).distinct()
        val f0 = prep(
          LakeTable.readVersionForKeys(spark, fact, lastF, Seq(fk), dirtyKeys), where, Nil)
        Some(joined(f0, dD, fk, dk, keys, aggs, col("d.`__one`"), keyExprs))
      }
    val changes = (term1.toSeq ++ term2.toSeq).reduce(_.unionByName(_))

    val stamp = (m: LakeTable.TableMeta) => {
      if (!m.props.get(PropVersion).contains(lastF.toString) ||
          !m.props.get(PropDimVersion).contains(lastD.toString))
        throw new StaleRefresh(
          s"MatView.refresh: stale refresh watermark (view advanced past $lastF/$lastD concurrently)")
      m.copy(props = m.props +
        (PropVersion -> headF.toString) + (PropDimVersion -> headD.toString))
    }
    val deltaOnly = aggs.forall(a => Set("cnt", "sum", "avg")(a.fn))
    val source =
      if (deltaOnly) deltaSource(changes, keys, aggs)
      else dirtyJoinSource(spark, fact, dim, fk, dk, headF, headD, changes, keys, aggs,
        where, dimWhere, keyExprs)
    val stored = storedCols(aggs)
    inheritWidenings(spark, mvRoot, meta, keys ++ stored, source)
    val matched = Seq(
      LakeTable.MergeBranch(Some(deadCond(deltaOnly)), None),
      LakeTable.MergeBranch(None, Some(
        stored.map(c => c -> updateValue(deltaOnly, c)).toMap)))
    val notMatched = Seq(
      LakeTable.MergeBranch(Some(liveInsertCond(deltaOnly)), Some(
        (keys.map(k => k -> col(s"__s_$k")) ++
          stored.map(c => c -> insertValue(deltaOnly, c))).toMap)))
    try {
      LakeTable.mergeClauses(
        spark, mvRoot, source, keys, matched, notMatched, Nil,
        partitionCol = meta.partitionCol, metaUpdate = stamp, nullSafeKeys = true)
      headF
    } catch {
      case _: StaleRefresh =>
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

  /** Dirty-group source: DISTINCT touched keys from the change feed,
    * re-aggregated from the source AT THE PINNED head version (groups
    * the window killed come back with NULL aggregates → DELETE). The
    * source read is entry-pruned by the dirty key set (stats/Bloom),
    * then semi-joined — candidate files only, never the table.
    */
  private def dirtySource(
      spark: SparkSession,
      src: String,
      head: Long,
      changes: DataFrame,
      keys: Seq[String],
      aggs: Seq[Agg],
      // PHYSICAL source columns among the keys — the only ones the
      // entry-pruned read can prune on (derived keys have no stats arm)
      physKeys: Seq[String],
      prepFn: DataFrame => DataFrame): DataFrame = {
    val dirty = changes.select(keys.map(col): _*).distinct()
    // with every key derived nothing can prune: the full pinned-version
    // scan (readVersionForKeys itself falls back to it on a NULL key)
    val base = prepFn(
      if (physKeys.isEmpty) LakeTable.readVersion(spark, src, head)
      else LakeTable.readVersionForKeys(spark, src, head, physKeys,
        dirty.select(physKeys.map(col): _*).distinct()))
    def keyEq(l: String, r: String): Column =
      keys.map(k => col(s"$l.`$k`") <=> col(s"$r.`$k`")).reduce(_ && _)
    val recomputed = base.as("b")
      .join(broadcast(dirty).as("d"), keyEq("b", "d"), "left_semi")
      .groupBy(keys.map(col): _*).agg(aggExprs(aggs).head, aggExprs(aggs).tail: _*)
    val joined = dirty.as("d").join(recomputed.as("r"), keyEq("d", "r"), "left")
    joined.select(
      keys.map(k => col(s"d.`$k`").as(k)) ++ keys.map(k => col(s"d.`$k`").as(s"__s_$k")) ++
        storedCols(aggs).map(c => col(s"r.`$c`").as(s"__s_$c")): _*)
  }

  /** Dirty-group rescan of the JOIN for min/max/cntd join views: the
    * delta terms (already computed) identify the touched group keys;
    * those groups re-aggregate from `F1 ⋈ D1` with the fact read
    * entry-pruned to the dirty FACT-SIDE key values (dim-side keys
    * cannot prune the fact — the dim itself is read at head, typically
    * the small side). Groups the window killed come back NULL → DELETE,
    * exactly [[dirtySource]]'s contract.
    */
  private def dirtyJoinSource(
      spark: SparkSession,
      fact: String,
      dim: String,
      fk: String,
      dk: String,
      headF: Long,
      headD: Long,
      changes: DataFrame,
      keys: Seq[String],
      aggs: Seq[Agg],
      where: Option[String] = None,
      dimWhere: Option[String] = None,
      keyExprs: Seq[(String, String)] = Nil): DataFrame = {
    val dirty = changes.select(keys.map(col): _*).distinct()
    val d1 = prep(LakeTable.readVersion(spark, dim, headD), dimWhere, Nil)
    val factCols = LakeTable.snapshot(spark, fact).meta.get.schema.fieldNames.toSet
    // derived keys have no stats arm: only PHYSICAL keys may prune
    // (create refuses shadowing, so the exclusion here is belt-and-
    // braces against legacy-created views)
    val derivedNames = keyExprs.map(_._1).toSet
    val factKeys = keys.filter(k => factCols.contains(k) && !derivedNames.contains(k))
    val dimKeys = keys.filter(k => d1.columns.contains(k) && !derivedNames.contains(k))
    val f1 =
      // a NULL dirty key reads the unpruned version (readVersionForKeys)
      if (factKeys.nonEmpty)
        LakeTable.readVersionForKeys(spark, fact, headF, factKeys,
          dirty.select(factKeys.map(col): _*).distinct())
      else if (dimKeys.size == keys.size) {
        // dim-side view keys (the common "GROUP BY segment" shape): the
        // dirty groups name DIM rows, and only fact rows joining those
        // rows can belong to a dirty group — prune the fact read by
        // THEIR join-key values (the dim is the small side; its dirty
        // slice is smaller still)
        val dirtyFks = d1.as("d").join(broadcast(dirty).as("x"),
          dimKeys.map(k => col(s"d.`$k`") <=> col(s"x.`$k`")).reduce(_ && _),
          "left_semi")
          .select(col(s"`$dk`").as(fk)).where(col(s"`$fk`").isNotNull).distinct()
        LakeTable.readVersionForKeys(spark, fact, headF, Seq(fk), dirtyFks)
      } else LakeTable.readVersion(spark, fact, headF)
    val j = joined(prep(f1, where, Nil), d1, fk, dk, keys, aggs, col("f.`__one`"), keyExprs)
    def keyEq(l: String, r: String): Column =
      keys.map(k => col(s"$l.`$k`") <=> col(s"$r.`$k`")).reduce(_ && _)
    val recomputed = j.as("b")
      .join(broadcast(dirty).as("d"), keyEq("b", "d"), "left_semi")
      .groupBy(keys.map(col): _*).agg(aggExprs(aggs).head, aggExprs(aggs).tail: _*)
    val out = dirty.as("d").join(recomputed.as("r"), keyEq("d", "r"), "left")
    out.select(
      keys.map(k => col(s"d.`$k`").as(k)) ++ keys.map(k => col(s"d.`$k`").as(s"__s_$k")) ++
        storedCols(aggs).map(c => col(s"r.`$c`").as(s"__s_$c")): _*)
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
