package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{
  Alias, Attribute, AttributeReference, EqualTo, Expression}
import org.apache.spark.sql.catalyst.plans.logical.{
  Assignment, DeleteAction, DeleteFromTable, InsertAction, LogicalPlan, MergeAction,
  MergeIntoTable, Project, UpdateAction, UpdateTable}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation

import graft.operators.LakeTable
import graft.sources.lake.GraftLakeV2Table

/** SQL DML for `graft` catalog tables — MERGE INTO / UPDATE / DELETE
  * planned directly onto the transactional row-level verbs.
  *
  * Spark's own route for these verbs is the row-level-operation rewrite
  * (SupportsRowLevelOperations), whose group-based COPY_ON_WRITE plan
  * re-implements exactly what [[LakeTable.mergeClauses]]/
  * [[LakeTable.update]]/[[LakeTable.delete]] already do — affected-file
  * discovery, carry-by-path, atomic commit — but through a generic
  * scan+replace protocol that, without connector-side runtime group
  * filtering, rewrites the WHOLE table. Planning the logical command straight onto the native
  * ops keeps the stats/Bloom-pruned probe, file-level COW and
  * single-commit atomicity (and their spec pins) on the SQL path too.
  * The strategy is injected via `experimental.extraStrategies` (consulted
  * BEFORE the built-ins, which would otherwise throw TABLE_OPERATION
  * unsupported at this exact spot), so it also attaches to an
  * externally-created session through `SparkEngine.align`.
  *
  * Supported MERGE shapes: the ON condition must be a conjunction of
  * target-column = source-expression equalities (that is what makes the
  * merge an equi-join and the stats/Bloom file probe possible); the
  * clause lists follow Delta semantics (first matching clause wins):
  *
  * {{{
  *   MERGE INTO graft.db.t t USING src s ON t.k1 = s.a [AND t.k2 = s.b ...]
  *   WHEN MATCHED [AND cond] THEN UPDATE SET ... | DELETE      -- any number
  *   WHEN NOT MATCHED [AND cond] THEN INSERT ...               -- any number
  *   WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE | DELETE
  * }}}
  *
  * Every clause shape, the source-wins upsert included, plans onto
  * [[LakeTable.mergeClauses]], whose one fate frame both write steps
  * (COW rewrite, MOR tombstones) share. UPDATE and DELETE statements take
  * ARBITRARY predicates/assignments (evaluated by the rewrite scan
  * itself), including UNCORRELATED subqueries — `DELETE FROM t WHERE k
  * IN (SELECT ...)` and friends — which are executed once at statement
  * start and spliced back in as their materialized result (see
  * [[materializeSubqueries]]); the same holds for clause conditions
  * and assignment values on the general MERGE path. CORRELATED
  * subqueries are supported in UPDATE/DELETE conditions and in merge
  * CLAUSE CONDITIONS (lifted to a staged membership test over the
  * clause family's evaluation domain, see [[plantCorrelated]]);
  * correlated ASSIGNMENT VALUES (a per-row scalar lookup) and
  * assignments to columns the table lacks throw a crisp
  * UnsupportedOperationException rather than silently changing
  * semantics.
  *
  * Cardinality: duplicate SOURCE keys are a MERGE cardinality violation
  * (checked with one batch-sized aggregate before the merge — the
  * Delta/Iceberg contract; silently inserting duplicates is worse than
  * failing). Duplicate TARGET keys (a table made non-unique by blind
  * appends) are each matched: every such row takes the clause's action,
  * as in Delta.
  */
object LakeMerge {
  def register(spark: SparkSession): Unit =
    if (!spark.experimental.extraStrategies.contains(LakeDmlStrategy))
      spark.experimental.extraStrategies = spark.experimental.extraStrategies :+ LakeDmlStrategy
}

object LakeDmlStrategy extends SparkStrategy {

  override def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
    // schema evolution (WITH SCHEMA EVOLUTION + the table's
    // AUTOMATIC_SCHEMA_EVOLUTION capability) is applied during ANALYSIS:
    // ResolveMergeIntoSchemaEvolution already altered the table and
    // re-resolved the target, so by planning time the new columns are
    // ordinary table columns and the clause merge needs no special case
    case MergeIntoTable(tgt @ LakeTarget(t), source, cond, matched, notMatched, bySource, _) =>
      planGeneralMerge(t, tgt, source, cond, parseOn(cond, source.outputSet),
        matched, notMatched, bySource) :: Nil
    case UpdateTable(tgt @ LakeTarget(t), assignments, condition) =>
      planUpdate(t, tgt, assignments, condition) :: Nil
    case DeleteFromTable(tgt @ LakeTarget(t), condition) =>
      // DeleteFromTable normally routes through SupportsDelete, which
      // refuses non-Filter-translatable predicates; planning it here
      // lifts that restriction — LakeTable.delete evaluates ANY
      // predicate, incl. uncorrelated subqueries (materialized at
      // execution time — `DELETE FROM t WHERE k IN (SELECT ...)`, the
      // decontamination-by-blocklist verb) and CORRELATED EXISTS/IN
      // (evaluated once against the pre-statement snapshot, see
      // [[plantCorrelated]])
      val condExpr = byNameExpr(condition, "DELETE", target = Some(tgt))
      LakeDmlExec("delete", () => {
        val spark = SparkSession.active
        // the table's deleteMode picks the strategy inside the verb
        withSubqueryMaterializer(spark) { toCol =>
          LakeTable.delete(spark, t.root, toCol(condExpr), t.meta.partitionCol)
        }
      }) :: Nil
    case _ => Nil
  }

  /** The target side of a DML command when (possibly under a projection
    * the analyzer adds) it is a graft-lake catalog table.
    */
  private object LakeTarget {
    def unapply(plan: LogicalPlan): Option[GraftLakeV2Table] = plan match {
      case r: DataSourceV2Relation => r.table match {
        case t: GraftLakeV2Table => Some(t)
        case _ => None
      }
      // V2ScanRelationPushdown may already have planned the target's scan
      case s: org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation =>
        unapply(s.relation)
      case p: Project => unapply(p.child)
      case org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias(_, child) => unapply(child)
      case _ => None
    }
  }

  /** A resolved expression re-anchored by NAME (attribute references
    * replaced with unresolved ones) — usable against a frame read fresh
    * from the table, whose attribute ids differ from the command plan's.
    * The transform walks only EXPRESSION children, so a subquery's inner
    * plan (not an expression child) keeps its resolved shape for
    * [[materializeSubqueries]] to execute later.
    *
    * CORRELATED subqueries cannot be re-anchored (their inner plans
    * reference the command's outer attribute ids); where `target` (the
    * command's resolved target plan) is provided — UPDATE/DELETE
    * CONDITIONS — they are instead lifted by [[plantCorrelated]] into a
    * deferred membership test against the set of qualifying outer-column
    * tuples, evaluated once at statement start. Assignment VALUES lift
    * through [[byNameValue]]/[[plantCorrelatedValue]] instead.
    */
  private def byNameExpr(
      e: Expression,
      verb: String,
      target: Option[LogicalPlan] = None): Expression = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val lifted =
      if (!e.exists { case sq: SubqueryExpression => sq.isCorrelated; case _ => false }) e
      else target match {
        case Some(rel) => plantCorrelated(nnf(e), rel, verb)
        case None => refuseCorrelated(verb,
          "here (supported in UPDATE/DELETE conditions; in assignment values, " +
            "rewrite as MERGE INTO with the correlation as the ON key)")
      }
    lifted.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
  }

  /** [[byNameExpr]] for ASSIGNMENT VALUES: a correlated value lifts
    * through [[plantCorrelatedValue]] (per-tuple staged scalar, domain-
    * restricted to the statement's qualifying rows when deterministic)
    * instead of the membership lift conditions get.
    */
  private def byNameValue(
      e: Expression,
      verb: String,
      rel: LogicalPlan,
      domain: Option[Expression]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.SubqueryExpression
    val lifted =
      if (!e.exists { case sq: SubqueryExpression => sq.isCorrelated; case _ => false }) e
      else plantCorrelatedValue(e, rel, domain, verb)
    lifted.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(a.name)
    }
  }

  /** Plan-time stand-in for a lifted correlated predicate: carries the
    * RESOLVED boolean predicate (the subquery, possibly NOT-wrapped —
    * its attribute ids match [[rel]]) and the outer columns it reads.
    * A leaf by construction, so [[byNameExpr]]'s re-anchoring transform
    * never walks the resolved payload; replaced at DML-execution time
    * by [[spliceCorrelated]].
    */
  private case class CorrelatedMembership(
      pred: Expression,
      rel: LogicalPlan,
      outer: Seq[AttributeReference],
      // the names the SPLICE references on the evaluation frame (the
      // merge path renames source columns to __s_<name>)
      names: Seq[String])
    extends Expression with org.apache.spark.sql.catalyst.expressions.Unevaluable {
    override def children: Seq[Expression] = Nil
    override def dataType: org.apache.spark.sql.types.DataType =
      org.apache.spark.sql.types.BooleanType
    override def nullable: Boolean = false
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = this
  }

  /** Plan-time stand-in for a lifted correlated ASSIGNMENT VALUE
    * (`UPDATE ... SET x = (SELECT ... corr)`, MERGE SET values): carries
    * the RESOLVED value expression, the staging relation its outer
    * references resolve against, and an optional deterministic DOMAIN
    * predicate restricting staging to the qualifying tuples (the
    * UPDATE's own WHERE). Replaced at DML-execution time by
    * [[spliceLookup]] with a per-tuple scalar lookup join.
    */
  private case class CorrelatedLookup(
      value: Expression,
      domain: Option[Expression],
      rel: LogicalPlan,
      outer: Seq[AttributeReference],
      names: Seq[String])
    extends Expression with org.apache.spark.sql.catalyst.expressions.Unevaluable {
    override def children: Seq[Expression] = Nil
    override def dataType: org.apache.spark.sql.types.DataType = value.dataType
    override def nullable: Boolean = true
    override protected def withNewChildrenInternal(
        newChildren: IndexedSeq[Expression]): Expression = this
  }

  /** Lift a correlated assignment value WHOLESALE: the entire value
    * expression becomes a per-outer-tuple scalar, staged once against
    * the pre-statement snapshot and looked up null-safely from the
    * rewrite projection. The when(hit)-guard on the rewrite side only
    * CONSULTS the value on qualifying rows, so restricting the staged
    * domain to them (when the condition is deterministic) is exact.
    */
  private def plantCorrelatedValue(
      e: Expression,
      rel: LogicalPlan,
      domain: Option[Expression],
      verb: String,
      nameOf: AttributeReference => String = _.name): Expression = {
    if (!e.deterministic)
      refuseCorrelated(verb, s"inside a non-deterministic assignment ${e.sql}")
    val outer = e.references.toSeq.map {
      case a: AttributeReference => a
      case o => refuseCorrelated(verb, s"whose reference ${o.sql} is not a column")
    }
    val missing = outer.filterNot(rel.outputSet.contains)
    if (missing.nonEmpty)
      refuseCorrelated(verb, "referencing columns outside the staging relation: " +
        missing.map(_.name).mkString(", "))
    CorrelatedLookup(e, domain.filter(_.deterministic), rel, outer, outer.map(nameOf))
  }

  private def refuseCorrelated(verb: String, where: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-lake $verb: correlated subqueries are not supported $where")

  /** Negation-normal form over the boolean connectives — exact in
    * three-valued logic (De Morgan holds in Kleene logic). After this,
    * every NOT sits directly on a leaf, so [[plantCorrelated]] sees each
    * correlated subquery either bare or under one immediate NOT, always
    * in a monotone AND/OR context.
    */
  private def nnf(e: Expression): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{And, Not, Or}
    e match {
      case Not(Not(x)) => nnf(x)
      case Not(And(l, r)) => Or(nnf(Not(l)), nnf(Not(r)))
      case Not(Or(l, r)) => And(nnf(Not(l)), nnf(Not(r)))
      case And(l, r) => And(nnf(l), nnf(r))
      case Or(l, r) => Or(nnf(l), nnf(r))
      case other => other
    }
  }

  /** Lifts each boolean NNF leaf that contains a correlated subquery —
    * a bare `EXISTS(...)`, `NOT EXISTS(...)`, `k IN (corr)`, but also a
    * comparison on a correlated scalar like
    * `price < (SELECT avg(p) FROM s WHERE s.k = t.k)` — wholesale into
    * a [[CorrelatedMembership]] marker carrying the RESOLVED predicate
    * and target plan. [[materializeSubqueries]] later stages the
    * distinct referenced-column tuples for which the leaf is TRUE
    * (Catalyst decorrelates that filter into an ordinary semi/anti join
    * over the pre-statement snapshot) and splices back a null-safe
    * membership test against the staged set.
    *
    * Exactness: the lift maps the LEAF's NULL to FALSE. NNF guarantees
    * every handled leaf sits in a pure AND/OR context (NOT over a
    * connective was pushed down; NOT over a leaf stays INSIDE the
    * staged predicate), and the connectives are monotone in
    * FALSE < NULL < TRUE — so the condition's TRUTH, the only thing
    * WHERE/DML evaluates, is unchanged. Null-observation INSIDE the
    * leaf (a CASE or IS NULL over the subquery within one comparison)
    * is evaluated verbatim by the staging filter, so it needs no
    * special case. Non-deterministic leaves are refused: the staged
    * evaluation and a re-evaluation could disagree.
    */
  private def plantCorrelated(
      e: Expression,
      rel: LogicalPlan,
      verb: String,
      nameOf: AttributeReference => String = _.name): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{And, Or, SubqueryExpression}
    def hasCorr(x: Expression): Boolean =
      x.exists { case s: SubqueryExpression => s.isCorrelated; case _ => false }
    e match {
      case And(l, r) =>
        And(plantCorrelated(l, rel, verb, nameOf), plantCorrelated(r, rel, verb, nameOf))
      case Or(l, r) =>
        Or(plantCorrelated(l, rel, verb, nameOf), plantCorrelated(r, rel, verb, nameOf))
      case leaf if hasCorr(leaf) =>
        if (!leaf.deterministic)
          refuseCorrelated(verb, s"inside a non-deterministic predicate ${leaf.sql}")
        val outer = leaf.references.toSeq.map {
          case a: AttributeReference => a
          case o => refuseCorrelated(verb, s"whose reference ${o.sql} is not a column")
        }
        val missing = outer.filterNot(rel.outputSet.contains)
        if (missing.nonEmpty)
          refuseCorrelated(verb, "referencing columns outside the staging relation: " +
            missing.map(_.name).mkString(", "))
        CorrelatedMembership(leaf, rel, outer, outer.map(nameOf))
      case other => other
    }
  }

  /** Executes every (uncorrelated — [[byNameExpr]] already refused the
    * rest) subquery in `e` and splices the RESULT back in as a
    * self-contained parquet scan, leaving the surrounding expression
    * untouched: `k IN (SELECT ...)` becomes `k IN (scan of the staged
    * result)`. Runs at DML-execution time, inside
    * [[withSubqueryMaterializer]]'s staging scope.
    *
    * Why materialize instead of splicing the live inner plan: the
    * subquery may read the TARGET table itself (`DELETE FROM t WHERE k
    * IN (SELECT k FROM t ...)`) — the COW rewrite re-evaluates its
    * predicate across probe and rewrite scans, and ANSI DML semantics
    * want the subquery evaluated against the PRE-statement state, which
    * the staged copy pins exactly once. Staging is subquery-result-
    * sized (a blocklist, an aggregate), never table-sized, and the
    * rewritten predicate re-enters Spark's own subquery planning
    * (broadcast IN-hash / null-aware anti join) over the staged scan.
    */
  private def materializeSubqueries(
      spark: SparkSession,
      e: Expression,
      staged: scala.collection.mutable.Buffer[java.io.File]): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{
      Exists, InSubquery, ListQuery, ScalarSubquery, SubqueryExpression}
    def stage(plan: LogicalPlan): LogicalPlan = {
      val df = GraftColumnBridge.ofRows(spark, plan)
      val dir = java.nio.file.Files.createTempDirectory("graft-dml-subquery").toFile
      staged += dir
      val path = s"$dir/q"
      df.write.parquet(path)
      // schema passed explicitly: an EMPTY result has no footer to infer
      spark.read.schema(df.schema).parquet(path).queryExecution.analyzed
    }
    e.transform {
      case m: CorrelatedMembership => spliceCorrelated(spark, m, stage)
      case m: CorrelatedLookup => spliceLookup(spark, m, stage)
      case in: InSubquery => InSubquery(in.values, ListQuery(stage(in.query.plan)))
      case lq: ListQuery => lq // already staged by its enclosing InSubquery
      case ex: Exists => Exists(stage(ex.plan))
      case s: ScalarSubquery => ScalarSubquery(stage(s.plan))
      case sq: SubqueryExpression =>
        throw new UnsupportedOperationException(
          s"graft-lake DML: unsupported subquery shape ${sq.getClass.getSimpleName}")
    }
  }

  /** Executes a lifted correlated predicate ONCE: stages the distinct
    * outer-column tuples of the target for which it is TRUE (the filter
    * below is exactly the shape Catalyst's subquery decorrelation turns
    * into a semi/anti join — distributed, pushdown-planned, against the
    * pre-statement snapshot the resolved [[CorrelatedMembership.rel]]
    * pins), then returns a null-safe membership test the rewrite scans
    * re-evaluate against the STAGED (qualifying-tuples-sized) result:
    *
    * {{{ EXISTS(SELECT 1 FROM staged WHERE staged.ci <=> outer.ci ...) }}}
    *
    * `<=>` keeps tuples with NULL outer columns matchable (a correlated
    * `s.k <=> t.k` or `t.k IS NULL OR ...` inside the subquery can
    * qualify them); the staged column names are collision-proofed so the
    * outer references inside the new EXISTS resolve to the ENCLOSING
    * frame, never the staged scan (inner scope wins on a name clash).
    * Staging is O(distinct qualifying tuples) — blocklist-key-sized for
    * the decontamination shapes, never wider than the matched rows the
    * COW rewrite touches anyway.
    */
  private def spliceCorrelated(
      spark: SparkSession,
      m: CorrelatedMembership,
      stage: LogicalPlan => LogicalPlan): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, Exists}
    import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Filter => LFilter}
    val cols = m.outer.zipWithIndex.map { case (a, i) =>
      Alias(a, s"__graft_corr_f$i")(): org.apache.spark.sql.catalyst.expressions.NamedExpression
    }
    // The strategy received the OPTIMIZER's condition: a correlated
    // subquery in it is mid-rewrite (pulled up, DomainJoin
    // placeholders) — analyzer-ILLEGAL, so re-entering ofRows directly
    // would fail subquery validation for the scalar shape. Finish the
    // job the optimizer started instead: run the optimizer over the
    // staging plan — Filter IS the supported decorrelation context, so
    // the subquery is consumed into ordinary semi/anti/left joins and
    // the staged write re-enters ofRows as a plain relational plan.
    val tuples = spark.sessionState.optimizer.execute(
      Distinct(Project(cols, LFilter(m.pred, m.rel))))
    val stagedScan = stage(tuples)
    val conj = m.names.zip(stagedScan.output).map { case (n, st) =>
      EqualNullSafe(st, UnresolvedAttribute.quoted(n)): Expression
    }.reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
    Exists(LFilter(conj, stagedScan))
  }

  /** Executes a lifted correlated ASSIGNMENT VALUE once: stages one row
    * per distinct outer-column tuple of the (domain-filtered) staging
    * relation, carrying the VALUE the expression evaluates to for that
    * tuple — the correlated scalar in a Project over distinct tuples is
    * exactly the shape Catalyst decorrelates into a left-outer join +
    * aggregate (with the ANSI more-than-one-row guard preserved), run
    * through the optimizer like [[spliceCorrelated]] because the
    * strategy received a mid-rewrite subquery. The splice-back is a
    * scalar lookup against the staged result:
    *
    * {{{ (SELECT __v FROM staged WHERE staged.fi <=> outer.ci ...) }}}
    *
    * `<=>` matches NULL tuple components (each distinct tuple is staged
    * exactly once, so the lookup is at most one row by construction);
    * a row OUTSIDE the staged domain reads NULL, which the rewrite's
    * when(hit)-guard never consults. Staging is O(distinct qualifying
    * tuples), never the table.
    */
  private def spliceLookup(
      spark: SparkSession,
      m: CorrelatedLookup,
      stage: LogicalPlan => LogicalPlan): Expression = {
    import org.apache.spark.sql.catalyst.expressions.{EqualNullSafe, ScalarSubquery}
    import org.apache.spark.sql.catalyst.plans.logical.{Distinct, Filter => LFilter}
    val dom = m.domain.fold(m.rel)(d => LFilter(d, m.rel))
    val tuples = Distinct(Project(
      m.outer.map(a => a: org.apache.spark.sql.catalyst.expressions.NamedExpression), dom))
    val cols = m.outer.zipWithIndex.map { case (a, i) =>
      Alias(a, s"__graft_corr_f$i")(): org.apache.spark.sql.catalyst.expressions.NamedExpression
    }
    val valued = spark.sessionState.optimizer.execute(
      Project(cols :+ Alias(m.value, "__graft_corr_v")(), tuples))
    val stagedScan = stage(valued)
    val conj = m.names.zip(stagedScan.output.init).map { case (n, st) =>
      EqualNullSafe(st, UnresolvedAttribute.quoted(n)): Expression
    }.reduce(org.apache.spark.sql.catalyst.expressions.And(_, _))
    ScalarSubquery(Project(Seq(stagedScan.output.last), LFilter(conj, stagedScan)))
  }

  /** Execution-time staging scope for DML subqueries: `body` receives an
    * Expression→Column converter that materializes subqueries on the
    * way; every staged result is reclaimed when the verb finishes,
    * success or failure.
    */
  private def withSubqueryMaterializer(
      spark: SparkSession)(
      body: (Expression => org.apache.spark.sql.Column) => Unit): Unit = {
    val staged = scala.collection.mutable.Buffer[java.io.File]()
    def toCol(e: Expression): org.apache.spark.sql.Column =
      GraftColumnBridge.column(materializeSubqueries(spark, e, staged))
    def rm(f: java.io.File): Unit = {
      Option(f.listFiles()).foreach(_.foreach(rm))
      f.delete(): Unit
    }
    try body(toCol) finally staged.foreach(rm)
  }

  private def fail(what: String): Nothing =
    throw new UnsupportedOperationException(
      s"graft-lake MERGE INTO: not supported here: $what (supported: an ON condition " +
        s"that is a conjunction of target-column = source-expression equalities; " +
        s"WHEN MATCHED [AND cond] THEN UPDATE/DELETE; WHEN NOT MATCHED [AND cond] " +
        s"THEN INSERT; WHEN NOT MATCHED BY SOURCE [AND cond] THEN UPDATE/DELETE; " +
        s"correlated subqueries in clause conditions and assignment values; " +
        s"assignments to existing table columns only)")

  /** ON must be a conjunction of targetCol = sourceExpr equalities —
    * that is what makes the merge an equi-join (shuffle-/broadcast-
    * plannable) and the stats/Bloom file probe possible. Returns each
    * key's target column name and its source-side expression.
    */
  private def parseOn(
      cond: Expression,
      sourceOut: org.apache.spark.sql.catalyst.expressions.AttributeSet)
      : Seq[(String, Expression)] = {
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case org.apache.spark.sql.catalyst.expressions.And(l, r) => conjuncts(l) ++ conjuncts(r)
      case o => Seq(o)
    }
    val pairs = conjuncts(cond).map {
      case EqualTo(l, r) =>
        val (tAttr, sExpr) =
          if (l.references.subsetOf(sourceOut) && !r.references.subsetOf(sourceOut)) (r, l)
          else (l, r)
        val name = tAttr match {
          case ar: AttributeReference if !sourceOut.contains(ar) => ar.name
          case other => fail(s"ON conjunct side $other is not a target column")
        }
        if (!sExpr.references.subsetOf(sourceOut)) fail(s"ON conjunct for $name mixes both sides")
        name -> sExpr
      case other => fail(s"non-equality ON conjunct ${other.sql}")
    }
    if (pairs.isEmpty) fail("an ON condition with no key equality")
    pairs
  }

  /** ANSI MERGE cardinality: a target row matched by MULTIPLE source
    * rows is an error (Delta/Iceberg raise MERGE_CARDINALITY_VIOLATION)
    * — with equality keys that is exactly a duplicate source key, and
    * letting it through would SILENTLY insert duplicate keys instead.
    * One aggregate over the batch-sized source, not the table.
    */
  private def cardinalityCheck(
      src: org.apache.spark.sql.DataFrame, keyCols: Seq[String]): Unit = {
    val dup = src.groupBy(keyCols.map(org.apache.spark.sql.functions.col): _*)
      .count().where(org.apache.spark.sql.functions.col("count") > 1)
      .limit(1).collect()
    if (dup.nonEmpty)
      throw new IllegalStateException(
        "graft-lake MERGE INTO: the source has duplicate rows for key " +
          dup.head.toSeq.init.mkString("(", ", ", ")") +
          " — a target row cannot be updated by multiple source rows " +
          "(MERGE cardinality violation); de-duplicate the source first")
  }

  /** General clause shapes (Delta semantics, first matching clause
    * wins): conditional matched UPDATE/DELETE, conditional NOT MATCHED
    * INSERT, NOT MATCHED BY SOURCE UPDATE/DELETE. Clause conditions and
    * assignment values may reference BOTH sides; they are re-anchored by
    * name over the joined frame [[LakeTable.mergeClauses]] builds —
    * target columns keep their names, source columns get the `__s_`
    * prefix — so subqueries (whose inner plans cannot be re-anchored)
    * are refused crisply, like [[byNameColumn]].
    */
  private def planGeneralMerge(
      t: GraftLakeV2Table,
      tgt: LogicalPlan,
      source: LogicalPlan,
      cond: Expression,
      keyPairs: Seq[(String, Expression)],
      matched: Seq[MergeAction],
      notMatched: Seq[MergeAction],
      bySource: Seq[MergeAction]): SparkPlan = {
    val sourceOut = source.outputSet
    def rename(a: AttributeReference): String =
      if (sourceOut.contains(a)) "__s_" + a.name else a.name
    def anchorNames(e: Expression): Expression = e.transform {
      case a: AttributeReference => UnresolvedAttribute.quoted(rename(a))
    }
    def hasCorr(e: Expression): Boolean = e.exists {
      case sq: org.apache.spark.sql.catalyst.expressions.SubqueryExpression => sq.isCorrelated
      case _ => false
    }
    /** Clause CONDITIONS take correlated subqueries via the same lift
      * as UPDATE/DELETE — the staging relation is the clause family's
      * evaluation domain (matched pairs = the ON inner join; not-matched
      * conditions read source columns only; by-source conditions read
      * target columns only — a superset domain is sound, the lifted
      * leaf is a pure function of its referenced columns).
      */
    def anchoredCond(e: Expression, rel: LogicalPlan): Expression =
      anchorNames(
        if (!hasCorr(e)) e else plantCorrelated(nnf(e), rel, "MERGE", rename))
    // assignment VALUES lift to a per-tuple staged scalar + null-safe
    // lookup join (plantCorrelatedValue) — the staging relation is the
    // clause family's evaluation domain, like clause conditions
    def anchoredValue(e: Expression, rel: LogicalPlan): Expression =
      if (!hasCorr(e)) anchorNames(e)
      else anchorNames(plantCorrelatedValue(e, rel, None, "MERGE", rename))
    val matchedRel = org.apache.spark.sql.catalyst.plans.logical.Join(
      tgt, source, org.apache.spark.sql.catalyst.plans.Inner, Some(cond),
      org.apache.spark.sql.catalyst.plans.logical.JoinHint.NONE)
    val targetFields = t.meta.schema.fieldNames.toSet
    def assignMap(
        assigns: Seq[Assignment], what: String, rel: LogicalPlan): Map[String, Expression] =
      assigns.map { a =>
        val name = a.key match {
          case ar: AttributeReference => ar.name
          case other => fail(s"$what assignment to non-column $other")
        }
        if (!targetFields.contains(name))
          fail(s"$what assigns $name, not a table column (clause merge does not evolve schema)")
        name -> anchoredValue(a.value, rel)
      }.toMap
    // branches carry re-anchored EXPRESSIONS; Columns are built at
    // execution time, when the subquery materializer has a session
    def branch(a: MergeAction, what: String, rel: LogicalPlan)
        : (Option[Expression], Option[Map[String, Expression]]) =
      a match {
        case u: UpdateAction =>
          (u.condition.map(anchoredCond(_, rel)), Some(assignMap(u.assignments, what, rel)))
        case d: DeleteAction =>
          (d.condition.map(anchoredCond(_, rel)), None)
        case i: InsertAction =>
          (i.condition.map(anchoredCond(_, rel)), Some(assignMap(i.assignments, what, rel)))
        case other => fail(s"$what action $other")
      }
    val mBr = matched.map(branch(_, "MATCHED", matchedRel))
    val nBr = notMatched.map(branch(_, "NOT MATCHED", source))
    nBr.foreach(b => if (b._2.isEmpty) fail("a NOT MATCHED clause that does not INSERT"))
    val sBr = bySource.map(branch(_, "NOT MATCHED BY SOURCE", tgt))

    // the prepared source frame mergeClauses expects: every source
    // column under __s_<name>, plus each ON key expression under its
    // target column name (the join/probe key)
    val srcPlan = Project(
      source.output.map(a => Alias(a, "__s_" + a.name)()).toSeq ++
        keyPairs.map { case (k, e) => Alias(e, k)() },
      source)
    val keyCols = keyPairs.map(_._1)
    LakeDmlExec("merge", () => {
      val spark = SparkSession.active
      withSubqueryMaterializer(spark) { toCol =>
        def mk(b: (Option[Expression], Option[Map[String, Expression]])): LakeTable.MergeBranch =
          LakeTable.MergeBranch(b._1.map(toCol),
            b._2.map(_.map { case (k, v) => k -> toCol(v) }))
        // the cardinality check is ALWAYS required on the general path,
        // even with no MATCHED clause: mergeClauses' full-outer join
        // replicates a matched TARGET row once per duplicate source key
        // (Delta permits dup UNMATCHED inserts; we trade that corner for a
        // crisp refusal instead of corruption). It reads the source
        // before anything is written, from the cache the merge's key fold
        // builds; the cache spans the statement, retries included.
        val src = GraftColumnBridge.ofRows(spark, srcPlan)
          .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try LakeTable.mergeClausesChecked(
          spark, t.root, src, keyCols, mBr.map(mk), nBr.map(mk), sBr.map(mk),
          t.meta.partitionCol, metaUpdate = identity, nullSafeKeys = false, maxRetries = 3,
          preCommit = () => (), sourceCheck = cardinalityCheck(_, keyCols))
        finally { src.unpersist(); () }
      }
    })
  }

  private def planUpdate(
      t: GraftLakeV2Table,
      tgt: LogicalPlan,
      assignments: Seq[Assignment],
      condition: Option[Expression]): SparkPlan = {
    val set = assignments.flatMap { a =>
      val name = a.key match {
        case ar: AttributeReference => ar.name
        case other => throw new UnsupportedOperationException(
          s"graft-lake UPDATE: assignment to non-column $other")
      }
      // analysis aligns assignments to ALL columns; identity assignments
      // (c = c) need no rewrite expression
      a.value match {
        case v: AttributeReference if v.name == name => None
        case v => Some(name -> byNameValue(v, "UPDATE", tgt, condition))
      }
    }.toMap
    val condExpr = condition.map(byNameExpr(_, "UPDATE", target = Some(tgt)))
    LakeDmlExec("update", () => {
      val spark = SparkSession.active
      withSubqueryMaterializer(spark) { toCol =>
        val cond = condExpr.map(toCol).getOrElse(org.apache.spark.sql.functions.lit(true))
        val setCols = set.map { case (k, v) => k -> toCol(v) }
        LakeTable.update(spark, t.root, cond, setCols, t.meta.partitionCol)
      }
    })
  }
}

/** Driver-side command exec for the lake DML verbs: the op (already a
  * full Spark job pipeline internally — probe scan, COW rewrite, commit)
  * runs exactly once, at eager-command execution time.
  */
case class LakeDmlExec(verb: String, run: () => Unit) extends LeafExecNode {
  override def output: Seq[Attribute] = Nil
  private lazy val once: Unit = run()
  override def executeCollect(): Array[InternalRow] = { once; Array.empty }
  override protected def doExecute(): RDD[InternalRow] = {
    once
    session.sparkContext.emptyRDD[InternalRow]
  }
}
