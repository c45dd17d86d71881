package graft.sources.lake

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Alias, Attribute, AttributeReference, AttributeSet, EqualTo, Expression, Literal, SubqueryExpression}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Filter, Join, LogicalPlan, SubqueryAlias}
import org.apache.spark.sql.connector.catalog.Identifier
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.types.LongType

import graft.operators.{LakeTable, MatView}

/** SQL DDL for incrementally-maintained MATERIALIZED VIEWS — the pure-SQL
  * face over [[graft.operators.MatView]] (previously reachable only via
  * `CALL graft.system.create_matview(...)` and its string grammar):
  *
  * {{{
  *   CREATE MATERIALIZED VIEW graft.db.mv AS
  *     SELECT status, o_orderkey % 10 AS kdec, count(*) AS cnt,
  *            sum(cents) AS sum_cents
  *     FROM graft.db.orders [JOIN graft.db.dim ON fact_k = dim_k]
  *     [WHERE ...] GROUP BY status, o_orderkey % 10
  *   REFRESH MATERIALIZED VIEW graft.db.mv
  *   DROP MATERIALIZED VIEW graft.db.mv
  * }}}
  *
  * Spark's grammar has no MATERIALIZED keyword, so the three statements
  * are screened BEFORE the delegate parser (the same injectParser hook
  * that carries logical-view DDL, [[GraftViewSqlParser]]) and lowered
  * onto `MatView.create` / `createJoin` / `refresh`. The SELECT is
  * ANALYZED at DDL time and must map exactly onto the maintainable
  * surface — one lake table (or one inner equi-join of two), an optional
  * deterministic WHERE (join views: conjuncts are routed to the fact or
  * dim side each predicate references), group keys that are source
  * columns or aliased deterministic expressions (on join views the
  * expression may mix both sides' columns; a derived name must not
  * shadow a source column), and aggregates from {count(*),
  * count(DISTINCT c), sum, avg, min, max} over bare columns. Anything
  * else refuses crisply with the
  * unsupported piece named, and a refused CREATE materializes nothing.
  *
  * Aggregate columns are STORED under MatView's canonical names (`cnt`,
  * `sum_<c>`, `avg_<c>`, `min_<c>`, `max_<c>`, `cntd_<c>`): an alias, if
  * given, must spell the canonical name — the refusal says which.
  */
private[lake] object GraftMatViewSql {

  private val CreateRe =
    """(?is)^\s*CREATE\s+MATERIALIZED\s+VIEW\s+(\S+)\s+AS\s+(.+?)\s*;?\s*$""".r
  private val RefreshRe =
    """(?is)^\s*REFRESH\s+MATERIALIZED\s+VIEW\s+(\S+)\s*;?\s*$""".r
  private val DropRe =
    """(?is)^\s*DROP\s+MATERIALIZED\s+VIEW\s+(\S+)\s*;?\s*$""".r

  /** The pre-delegate screen: Some(command) for the three MATERIALIZED
    * VIEW statements, None for everything else (delegate untouched).
    */
  def parse(sqlText: String, delegate: ParserInterface): Option[LogicalPlan] =
    sqlText match {
      case CreateRe(name, body) =>
        Some(GraftCreateMatViewCommand(delegate.parseMultipartIdentifier(name), body))
      case RefreshRe(name) =>
        Some(GraftRefreshMatViewCommand(delegate.parseMultipartIdentifier(name)))
      case DropRe(name) =>
        Some(GraftDropMatViewCommand(delegate.parseMultipartIdentifier(name)))
      case _ => None
    }

  private[lake] def refuse(what: String): Nothing =
    throw new IllegalArgumentException(
      s"graft-lake CREATE MATERIALIZED VIEW: $what (supported: SELECT " +
        "<keys and aggregates> FROM <lake table> [JOIN <lake dim> ON f = d] " +
        "[WHERE ...] GROUP BY <keys>; aggregates: count(*), " +
        "count(DISTINCT c), sum/avg/min/max(c))")

  private[lake] def stripAliases(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(_, c) => stripAliases(c)
    case other => other
  }

  /** A relation leg must bottom out at a graft lake table: its
    * (plan-for-attribute-ownership, table root).
    */
  private[lake] def lakeLeg(p: LogicalPlan): (LogicalPlan, String) = stripAliases(p) match {
    case r: DataSourceV2Relation => r.table match {
      case t: GraftLakeV2Table => (r, t.root)
      case other => refuse(s"${other.name} is not a graft lake table")
    }
    case other => refuse(s"unsupported FROM shape ${other.nodeName}")
  }

  /** Render an analyzed boolean/scalar expression back to SQL the
    * MatView refresh machinery can re-parse over the bare source frame:
    * qualifiers are stripped (the frame's columns carry plain names).
    * Non-deterministic pieces and subqueries refuse — they do not
    * commute with the signed diff.
    */
  private[lake] def exprSql(e: Expression, what: String): String = {
    if (!e.deterministic) refuse(s"$what must be deterministic, got ${e.sql}")
    if (e.exists(_.isInstanceOf[SubqueryExpression]))
      refuse(s"$what must not contain a subquery: ${e.sql}")
    e.transform { case a: AttributeReference => a.withQualifier(Seq.empty) }.sql
  }

  private[lake] def conjuncts(e: Expression): Seq[Expression] = e match {
    case org.apache.spark.sql.catalyst.expressions.And(l, r) =>
      conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Classify one analyzed AggregateExpression onto MatView's surface. */
  private[lake] def classifyAgg(ae: AggregateExpression): MatView.Agg = {
    if (ae.filter.isDefined) refuse("FILTER clauses on aggregates are unsupported")
    def attrName(e: Expression): String = e match {
      case a: AttributeReference => a.name
      case other => refuse(
        s"aggregate arguments must be bare source columns, got ${other.sql}")
    }
    val f = ae.aggregateFunction
    (f.prettyName, f.children) match {
      case ("count", Seq(Literal(_, _))) if !ae.isDistinct => MatView.Agg("cnt", "")
      case ("count", Seq(e)) if ae.isDistinct => MatView.Agg("cntd", attrName(e))
      case ("count", _) =>
        refuse("count(<col>) is unsupported — use count(*) or count(DISTINCT c)")
      case ("sum", Seq(e)) if !ae.isDistinct => MatView.Agg("sum", attrName(e))
      case ("avg", Seq(e)) if !ae.isDistinct => MatView.Agg("avg", attrName(e))
      case ("min", Seq(e)) => MatView.Agg("min", attrName(e))
      case ("max", Seq(e)) => MatView.Agg("max", attrName(e))
      case (n, _) => refuse(s"unsupported aggregate $n")
    }
  }
}

/** CREATE MATERIALIZED VIEW <ident> AS <select> — validates the SELECT
  * maps onto the maintainable surface, then lowers to
  * [[MatView.create]] / [[MatView.createJoin]]. All validation runs
  * before anything is written: a refused CREATE materializes nothing.
  */
case class GraftCreateMatViewCommand(
    nameParts: Seq[String],
    selectSql: String) extends LeafRunnableCommand {
  import GraftMatViewSql._

  override def run(session: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftViews.route(nameParts).getOrElse(refuse(
      s"${nameParts.mkString(".")} does not name a graft-catalog table"))
    if (cat.tableExists(ident) || cat.viewExists(ident))
      throw new IllegalArgumentException(
        s"graft-lake CREATE MATERIALIZED VIEW: $ident already exists")
    val unresolved = session.sessionState.sqlParser.parsePlan(selectSql)
    val analyzed = session.sessionState.executePlan(unresolved).analyzed

    val (groups, out, src) = analyzed match {
      case Aggregate(g, o, c, _) => (g, o, c)
      case _ => refuse("the query must be a GROUP BY aggregate")
    }
    // explicit aliases ride the UNRESOLVED select list (the analyzer
    // auto-aliases bare aggregates, which must NOT count as explicit)
    val explicitAlias: Seq[Option[String]] = unresolved match {
      case a: Aggregate => a.aggregateExpressions.map {
        case Alias(_, n) => Some(n)
        case _ => None
      }
      case _ => out.map(_ => None)
    }

    val (cond, rel) = stripTop(src)
    val mvRoot = cat.tableRoot(ident)

    rel match {
      // ---- single lake table --------------------------------------
      case r: DataSourceV2Relation if r.table.isInstanceOf[GraftLakeV2Table] =>
        val srcRoot = r.table.asInstanceOf[GraftLakeV2Table].root
        val (keys, keyExprs, aggs) = classify(groups, out, explicitAlias)
        val where = cond.map(c => exprSql(c, "WHERE"))
        MatView.create(session, mvRoot, srcRoot, keys, aggs,
          where = where, keyExprs = keyExprs)

      // ---- fact ⋈ dim (LEFT side of the JOIN is the fact) ----------
      case Join(l, r, Inner, Some(jc), _) =>
        val (lrel, factRoot) = lakeLeg(l)
        val (rrel, dimRoot) = lakeLeg(r)
        val (fk, dk) = jc match {
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if lrel.outputSet.contains(a) && rrel.outputSet.contains(b) =>
            (a.name, b.name)
          case EqualTo(a: AttributeReference, b: AttributeReference)
              if lrel.outputSet.contains(b) && rrel.outputSet.contains(a) =>
            (b.name, a.name)
          case other =>
            refuse(s"the join condition must be one column equality, got ${other.sql}")
        }
        val (keys, keyExprs, aggs) = classify(groups, out, explicitAlias)
        // WHERE conjuncts route to the side each one references wholly
        val (factW, dimW) = splitWhere(cond, lrel.outputSet, rrel.outputSet)
        MatView.createJoin(session, mvRoot, factRoot, dimRoot, fk, dk, keys, aggs,
          where = factW, dimWhere = dimW, keyExprs = keyExprs)

      case Join(_, _, jt, _, _) =>
        refuse(s"only INNER equi-joins are maintainable, got $jt")
      case other => refuse(s"unsupported FROM shape ${other.nodeName}")
    }
    Nil
  }

  private def stripTop(p: LogicalPlan): (Option[Expression], LogicalPlan) = {
    val s = p match {
      case SubqueryAlias(_, c) => c
      case other => other
    }
    s match {
      case f: Filter => (Some(f.condition), stripTop(f.child)._2)
      case other => (None, other match {
        case SubqueryAlias(_, c) => c
        case o => o
      })
    }
  }

  private def splitWhere(
      cond: Option[Expression],
      factAttrs: AttributeSet,
      dimAttrs: AttributeSet): (Option[String], Option[String]) = {
    val (f, d) = (Seq.newBuilder[String], Seq.newBuilder[String])
    cond.toSeq.flatMap(GraftMatViewSql.conjuncts).foreach { c =>
      if (c.references.subsetOf(factAttrs)) f += exprSql(c, "WHERE")
      else if (c.references.subsetOf(dimAttrs)) d += exprSql(c, "WHERE")
      else refuse(s"a WHERE conjunct must reference only one join side, got ${c.sql}")
    }
    def opt(xs: Seq[String]) = if (xs.isEmpty) None else Some(xs.mkString(" AND "))
    (opt(f.result()), opt(d.result()))
  }

  /** SELECT-list classification: keys in select order (derived ones as
    * `name := sql` pairs), aggregates mapped to MatView's surface with
    * canonical-name alias enforcement.
    */
  private def classify(
      groups: Seq[Expression],
      out: Seq[org.apache.spark.sql.catalyst.expressions.NamedExpression],
      explicitAlias: Seq[Option[String]])
      : (Seq[String], Seq[(String, String)], Seq[MatView.Agg]) = {
    val keys = Seq.newBuilder[String]
    val keyExprs = Seq.newBuilder[(String, String)]
    val aggs = Seq.newBuilder[MatView.Agg]
    out.zipAll(explicitAlias, null, None).foreach {
      case (a: AttributeReference, _) if groups.exists(_.semanticEquals(a)) =>
        keys += a.name
      case (Alias(ae: AggregateExpression, _), explicit) =>
        val agg = GraftMatViewSql.classifyAgg(ae)
        explicit.foreach { n =>
          if (n != agg.name) refuse(
            s"aggregate ${ae.sql} is stored as '${agg.name}' — alias it AS " +
              s"${agg.name} or omit the alias (got AS $n)")
        }
        aggs += agg
      case (al @ Alias(e, name), explicit)
          if groups.exists(_.semanticEquals(e)) =>
        if (explicit.isEmpty) refuse(
          s"expression group key ${e.sql} needs an explicit alias (AS <name>)")
        keys += name
        e match {
          case a: AttributeReference if a.name == name => // plain key
          case _ => keyExprs += name -> exprSql(e, s"group key $name")
        }
      case (o, _) if o != null => refuse(
        s"${o.sql} is neither a GROUP BY key nor a supported aggregate")
      case _ => ()
    }
    groups.foreach { g =>
      val selected = out.exists {
        case Alias(e, _) => e.semanticEquals(g)
        case o => o.semanticEquals(g)
      }
      if (!selected) refuse(s"GROUP BY key ${g.sql} must appear in the SELECT list")
    }
    val (ks, kes, as) = (keys.result(), keyExprs.result(), aggs.result())
    if (ks.isEmpty) refuse("at least one group key")
    if (as.isEmpty) refuse("at least one aggregate")
    (ks, kes, as)
  }
}

case class GraftRefreshMatViewCommand(nameParts: Seq[String])
  extends LeafRunnableCommand {
  override val output: Seq[Attribute] =
    Seq(AttributeReference("src_version", LongType)())
  override def run(session: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftViews.route(nameParts).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake REFRESH MATERIALIZED VIEW: ${nameParts.mkString(".")} " +
          "does not name a graft-catalog table"))
    Seq(Row(MatView.refresh(session, cat.tableRoot(ident))))
  }
}

case class GraftDropMatViewCommand(nameParts: Seq[String])
  extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    val (cat, ident) = GraftViews.route(nameParts).getOrElse(
      throw new IllegalArgumentException(
        s"graft-lake DROP MATERIALIZED VIEW: ${nameParts.mkString(".")} " +
          "does not name a graft-catalog table"))
    val root = cat.tableRoot(ident)
    val isMv = cat.tableExists(ident) &&
      LakeTable.snapshot(session, root).meta.exists(m => MatView.isView(m.props))
    if (!isMv) throw new IllegalArgumentException(
      s"graft-lake DROP MATERIALIZED VIEW: $ident is not a materialized view " +
        "(DROP TABLE drops plain tables)")
    cat.dropTable(ident)
    Nil
  }
}
