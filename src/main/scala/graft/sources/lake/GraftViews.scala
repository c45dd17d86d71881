package graft.sources.lake

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.catalyst.{FunctionIdentifier, TableIdentifier}
import org.apache.spark.sql.catalyst.analysis.{UnresolvedIdentifier, UnresolvedNamespace, UnresolvedRelation, UnresolvedTableOrView}
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SubqueryExpression}
import org.apache.spark.sql.catalyst.parser.ParserInterface
import org.apache.spark.sql.catalyst.plans.logical.{CreateView, DropView, LogicalPlan, RenameTable, ShowViews, SubqueryAlias, UnresolvedWith}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.connector.catalog.{Identifier, ViewInfo}
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.types.{DataType, StructType}

/** Logical `CREATE VIEW` through [[GraftLakeCatalog]] (the DSv2
  * ViewCatalog): vanilla Spark 4.1 hard-refuses view DDL against any
  * non-session catalog (`MISSING_CATALOG_ABILITY.VIEWS` thrown by
  * `ResolveSessionCatalog` before extension rules ever run), so — like
  * Iceberg's view support — the engine wires the two missing halves
  * itself:
  *
  *   - '''DDL''' ([[GraftViewSqlParser]], an `injectParser` hook): the
  *     delegate parser's CREATE/DROP/SHOW/RENAME VIEW nodes whose
  *     identifier routes to a graft catalog are swapped at parse time
  *     for runnable commands against [[GraftLakeCatalog]]'s ViewCatalog
  *     face — before the analyzer can refuse them.
  *   - '''reads''' ([[GraftViewSubstitution]], an
  *     `injectResolutionRule`): an [[UnresolvedRelation]] that names a
  *     stored graft view substitutes its parsed SQL (fixed-point, so
  *     views over views compose), aliased under the view name. The
  *     substituted plan then resolves like inline SQL — pruning and
  *     pushdown reach the lake scan unchanged.
  *
  * The view definition is FROZEN SQL resolved at read time (plain view
  * semantics — new source rows and compatible source schema changes
  * flow through). Stored-schema binding modes are not enforced.
  */
object GraftViews {

  /** The graft ViewCatalog + identifier a multipart name routes to, if
    * any: an explicit leading catalog name wins; otherwise the session's
    * current catalog is probed. Non-graft catalogs return None (their
    * DDL keeps Spark's own behavior, including the crisp ability error).
    */
  private[lake] def route(parts: Seq[String]): Option[(GraftLakeCatalog, Identifier)] = {
    if (parts.isEmpty) return None
    val cm = SparkSession.active.sessionState.catalogManager
    val (cat, rest) =
      if (parts.length > 1 && cm.isCatalogRegistered(parts.head))
        (cm.catalog(parts.head), parts.tail)
      else (cm.currentCatalog, parts)
    cat match {
      case g: GraftLakeCatalog if rest.nonEmpty =>
        Some((g, Identifier.of(rest.init.toArray, rest.last)))
      case _ => None
    }
  }

  /** Every table reference in a (still-unparsed-for-analysis) view
    * definition: relation names in the plan tree, inside expression
    * subqueries (EXISTS / IN / scalar / lateral) and inside CTE
    * definition bodies — `LogicalPlan.collect` alone descends into none
    * of the latter two. Single-part names bound by a CTE anywhere in
    * the SAME definition are excluded (they are the CTE's, never a
    * stored view's): conservative global shadowing, so
    * `WITH v AS (...) SELECT * FROM v` never reads as a reference to a
    * stored view named v.
    */
  /** ONE walk over the plan tree, CTE definition bodies and expression
    * subqueries, collecting (relation name parts, CTE names bound
    * anywhere) — both consumers below share it so the shadow set and the
    * reference set can never diverge.
    */
  private def walkRefs(plan: LogicalPlan): (Seq[Seq[String]], Set[String]) = {
    val ctes = scala.collection.mutable.Set[String]()
    val refs = scala.collection.mutable.ArrayBuffer[Seq[String]]()
    def walk(p: LogicalPlan): Unit = p.foreach { node =>
      node match {
        case w: UnresolvedWith =>
          w.cteRelations.foreach { r => ctes += r._1.toLowerCase; walk(r._2) }
        case UnresolvedRelation(parts, _, _) => refs += parts
        case _ =>
      }
      node.expressions.foreach(_.foreach {
        case sq: SubqueryExpression => walk(sq.plan)
        case _ =>
      })
    }
    walk(plan)
    (refs.toSeq, ctes.toSet)
  }

  private[lake] def relationRefs(plan: LogicalPlan): Seq[Seq[String]] = {
    val (refs, ctes) = walkRefs(plan)
    refs.filter(ps => ps.length > 1 || !ctes.contains(ps.head.toLowerCase))
  }

  /** Every CTE name bound anywhere in the definition (plan tree, CTE
    * bodies, expression subqueries) — the global shadow set.
    */
  private[lake] def cteNames(plan: LogicalPlan): Set[String] = walkRefs(plan)._2

  /** Refuse a view definition that reaches ITSELF through any chain of
    * stored views (CREATE OR REPLACE / ALTER VIEW AS can close a cycle
    * the analyzer would otherwise chase to its max-iterations error):
    * walk the SQL's relation names, DFS through stored definitions.
    * Runs at DDL time only — reads never pay for it.
    */
  private[lake] def requireAcyclic(
      session: SparkSession,
      target: Identifier,
      sql: String): Unit = {
    def refs(s: String): Seq[(GraftLakeCatalog, Identifier)] =
      relationRefs(session.sessionState.sqlParser.parsePlan(s)).flatMap(route)
    val seen = scala.collection.mutable.Set[String]()
    def walk(cat: GraftLakeCatalog, ident: Identifier, viaSql: String): Unit =
      refs(viaSql).foreach { case (c, i) =>
        if (i.toString == target.toString)
          throw new IllegalArgumentException(
            s"graft-lake: view $target would reference itself (via $ident) — " +
              "view definitions must be acyclic")
        if (seen.add(i.toString) && c.viewExists(i))
          walk(c, i, c.loadView(i).query())
      }
    walk(null, target, sql)
  }

  /** Rebind the view body's relation names under the view's STORED
    * creation context: an unqualified `t` becomes
    * `<currentCatalog>.<currentNamespace>.t`, a catalog-less `ns.t`
    * becomes `<currentCatalog>.ns.t` — so a view reads the same tables
    * from ANY reader USE context (the DSv2 ViewCatalog contract).
    * CTE-bound single-part names stay untouched (same conservative
    * shadowing as [[relationRefs]]), and CTE definition bodies are
    * rewritten too (transforms do not descend into them on their own).
    */
  private[lake] def qualifyRefs(
      plan: LogicalPlan, cat: String, ns: Array[String]): LogicalPlan = {
    val cm = SparkSession.active.sessionState.catalogManager
    val ctes = cteNames(plan)
    def qual(parts: Seq[String]): Seq[String] =
      if (parts.length == 1) (cat +: ns.toSeq) :+ parts.head
      else if (cm.isCatalogRegistered(parts.head)) parts
      else cat +: parts
    def tx(p: LogicalPlan): LogicalPlan = p.transformDownWithSubqueries {
      case w: UnresolvedWith =>
        w.copy(cteRelations = w.cteRelations.map { case (n, b, o) =>
          (n, tx(b).asInstanceOf[SubqueryAlias], o) })
      case u @ UnresolvedRelation(parts, _, _)
          if parts.length > 1 || !ctes.contains(parts.head.toLowerCase) =>
        u.copy(multipartIdentifier = qual(parts))
    }
    tx(plan)
  }

  /** Namespace-shaped routing (SHOW VIEWS IN <ns>). */
  private[lake] def routeNs(parts: Seq[String]): Option[(GraftLakeCatalog, Array[String])] = {
    val cm = SparkSession.active.sessionState.catalogManager
    val (cat, rest) =
      if (parts.nonEmpty && cm.isCatalogRegistered(parts.head))
        (cm.catalog(parts.head), parts.tail)
      else (cm.currentCatalog, parts)
    cat match {
      case g: GraftLakeCatalog => Some((g, rest.toArray))
      case _ => None
    }
  }
}

/** Parse-time swap of view DDL targeting a graft catalog (see
  * [[GraftViews]]). Everything else delegates verbatim.
  */
class GraftViewSqlParser(delegate: ParserInterface) extends ParserInterface {

  override def parsePlan(sqlText: String): LogicalPlan =
    // MATERIALIZED VIEW statements are screened BEFORE the delegate —
    // Spark's grammar has no MATERIALIZED keyword and would refuse them
    GraftMatViewSql.parse(sqlText, delegate).getOrElse(
      delegate.parsePlan(sqlText)) match {
      case cv @ CreateView(UnresolvedIdentifier(parts, _), userCols, comment, _,
          props, originalText, _, allowExisting, replace, _) =>
        GraftViews.route(parts) match {
          case Some((cat, ident)) =>
            val sql = originalText.getOrElse(throw new IllegalArgumentException(
              "graft-lake CREATE VIEW: missing view SQL text"))
            GraftCreateViewCommand(cat, ident, sql, userCols, comment, props,
              allowExisting = allowExisting, replace = replace)
          case None => cv
        }
      case dv @ DropView(UnresolvedIdentifier(parts, _), ifExists) =>
        GraftViews.route(parts) match {
          case Some((cat, ident)) if cat.viewExists(ident) || !looksLikeTable(cat, ident) =>
            GraftDropViewCommand(cat, ident, ifExists)
          case _ => dv
        }
      case sv @ ShowViews(ns: UnresolvedNamespace, pattern, output) =>
        GraftViews.routeNs(ns.multipartIdentifier) match {
          case Some((cat, rest)) => GraftShowViewsCommand(cat, rest, pattern, output)
          case None => sv
        }
      case av @ org.apache.spark.sql.catalyst.plans.logical.AlterViewAs(
          child: org.apache.spark.sql.catalyst.analysis.UnresolvedView, originalText, _) =>
        GraftViews.route(child.multipartIdentifier) match {
          case Some((cat, ident)) => GraftAlterViewAsCommand(cat, ident, originalText)
          case None => av
        }
      case sp @ org.apache.spark.sql.catalyst.plans.logical.SetViewProperties(
          child: org.apache.spark.sql.catalyst.analysis.UnresolvedView, props) =>
        GraftViews.route(child.multipartIdentifier) match {
          case Some((cat, ident)) => GraftViewPropsCommand(cat, ident, props, Nil, false)
          case None => sp
        }
      case up @ org.apache.spark.sql.catalyst.plans.logical.UnsetViewProperties(
          child: org.apache.spark.sql.catalyst.analysis.UnresolvedView, keys, ifExists) =>
        GraftViews.route(child.multipartIdentifier) match {
          case Some((cat, ident)) =>
            GraftViewPropsCommand(cat, ident, Map.empty, keys, ifExists)
          case None => up
        }
      case sct @ org.apache.spark.sql.catalyst.plans.logical.ShowCreateTable(
          child: UnresolvedTableOrView, asSerde, output) if !asSerde =>
        GraftViews.route(child.multipartIdentifier) match {
          case Some((cat, ident)) =>
            GraftShowCreateCommand(cat, ident, child.multipartIdentifier, output)
          case None => sct
        }
      case rt @ RenameTable(child: UnresolvedTableOrView, newName, true) =>
        GraftViews.route(child.multipartIdentifier) match {
          case Some((cat, ident)) =>
            val target = GraftViews.route(newName).map(_._2).getOrElse(
              Identifier.of(ident.namespace, newName.last))
            GraftRenameViewCommand(cat, ident, target)
          case None => rt
        }
      case other => other
    }

  /** DROP VIEW must not shadow DROP TABLE error paths: if the name IS a
    * lake table, keep Spark's own node (which refuses "is a table").
    */
  private def looksLikeTable(cat: GraftLakeCatalog, ident: Identifier): Boolean =
    try cat.tableExists(ident) catch { case _: Exception => false }

  override def parseExpression(sqlText: String): Expression = delegate.parseExpression(sqlText)
  override def parseTableIdentifier(sqlText: String): TableIdentifier =
    delegate.parseTableIdentifier(sqlText)
  override def parseFunctionIdentifier(sqlText: String): FunctionIdentifier =
    delegate.parseFunctionIdentifier(sqlText)
  override def parseMultipartIdentifier(sqlText: String): Seq[String] =
    delegate.parseMultipartIdentifier(sqlText)
  override def parseTableSchema(sqlText: String): StructType = delegate.parseTableSchema(sqlText)
  override def parseDataType(sqlText: String): DataType = delegate.parseDataType(sqlText)
  override def parseQuery(sqlText: String): LogicalPlan = delegate.parseQuery(sqlText)
  override def parseRoutineParam(sqlText: String): StructType =
    delegate.parseRoutineParam(sqlText)
}

/** Read-time substitution of stored graft views (see [[GraftViews]]).
  *
  * Cost discipline: this rule fires on every still-unresolved relation
  * each fixed-point iteration, so its guard must be CHEAP. `viewExists`
  * is one fs exists() on the view file path and runs FIRST; the
  * table-existence probe (a snapshot listing) runs only after a view
  * file was actually found — real tables were already resolved by
  * ResolveRelations (which runs earlier in the same batch), so the
  * common non-view case costs one exists() and nothing else.
  */
case class GraftViewSubstitution(spark: SparkSession) extends Rule[LogicalPlan] {
  override def apply(plan: LogicalPlan): LogicalPlan = plan.resolveOperatorsUp {
    case u @ UnresolvedRelation(parts, _, false) =>
      GraftViews.route(parts) match {
        case Some((cat, ident)) if cat.viewExists(ident) && !tableExists(cat, ident) =>
          val view = cat.loadView(ident)
          // unqualified relations in the body resolve under the view's
          // STORED creation context, not the reader's USE context.
          // CTESubstitution re-runs on the spliced body explicitly: the
          // analyzer's own Substitution batch already finished when this
          // resolution rule fires, so a WITH inside the view would
          // otherwise never bind its CTE names
          val parsed = org.apache.spark.sql.catalyst.analysis.CTESubstitution(
            GraftViews.qualifyRefs(
              spark.sessionState.sqlParser.parsePlan(view.query),
              view.currentCatalog, view.currentNamespace))
          // an explicit column list re-aliases the query output by name
          val body =
            if (view.columnAliases == null || view.columnAliases.isEmpty) parsed
            else org.apache.spark.sql.catalyst.plans.logical.Project(
              view.queryColumnNames.zip(view.columnAliases).toSeq.map { case (q, a) =>
                org.apache.spark.sql.catalyst.expressions.Alias(
                  org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute.quoted(q), a)()
              }, parsed)
          SubqueryAlias(ident.name, body)
        case _ => u
      }
    case u @ UnresolvedRelation(parts, _, true) =>
      GraftViews.route(parts) match {
        case Some((cat, ident)) if cat.viewExists(ident) && !tableExists(cat, ident) =>
          throw new UnsupportedOperationException(
            s"graft-lake: streaming reads of logical view ${parts.mkString(".")} are " +
              "not supported — readStream the base lake table instead")
        case _ => u
      }
  }

  private def tableExists(cat: GraftLakeCatalog, ident: Identifier): Boolean =
    try cat.tableExists(ident) catch { case _: Exception => false }
}

case class GraftCreateViewCommand(
    catalog: GraftLakeCatalog,
    ident: Identifier,
    sql: String,
    userCols: Seq[(String, Option[String])],
    comment: Option[String],
    props: Map[String, String],
    allowExisting: Boolean,
    replace: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (catalog.tableExists(ident))
      throw new IllegalArgumentException(
        s"graft-lake CREATE VIEW: $ident is a TABLE")
    val existed = catalog.viewExists(ident)
    if (existed) {
      if (allowExisting) return Nil
      if (!replace)
        throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(ident)
    }
    // analyze the view body now: a broken definition fails the DDL, not
    // the first read, and the schema is recorded for inspection. All
    // validation runs BEFORE a replace drops anything — a refused
    // CREATE OR REPLACE must leave the old definition intact
    GraftViews.requireAcyclic(session, ident, sql)
    val parsed = session.sessionState.sqlParser.parsePlan(sql)
    val qSchema = session.sessionState.executePlan(parsed).analyzed.schema
    if (existed) catalog.dropView(ident): Unit
    // explicit column list: aliases rename the query output 1:1 (reads
    // re-apply them by NAME over the substituted plan, so the stored
    // queryColumnNames must be unambiguous)
    if (userCols.nonEmpty) {
      require(userCols.size == qSchema.size,
        s"graft-lake CREATE VIEW: ${userCols.size} column aliases for a " +
          s"${qSchema.size}-column query")
      val dup = qSchema.fieldNames.groupBy(_.toLowerCase).collect {
        case (n, v) if v.length > 1 => n }
      require(dup.isEmpty,
        s"graft-lake CREATE VIEW: aliased views need unambiguous query column " +
          s"names, duplicates: ${dup.mkString(", ")}")
    }
    val schema =
      if (userCols.isEmpty) qSchema
      else StructType(qSchema.fields.zip(userCols).map {
        case (f, (alias, _)) => f.copy(name = alias) })
    val cm = session.sessionState.catalogManager
    val properties = new java.util.HashMap[String, String]()
    props.foreach { case (k, v) => properties.put(k, v) }
    comment.foreach(properties.put("comment", _))
    catalog.createView(new ViewInfo(ident, sql,
      cm.currentCatalog.name, cm.currentNamespace,
      schema, qSchema.fieldNames,
      if (userCols.isEmpty) Array.empty else userCols.map(_._1).toArray,
      if (userCols.isEmpty) Array.empty else userCols.map(_._2.orNull).toArray,
      properties)): Unit
    Nil
  }
}

case class GraftAlterViewAsCommand(
    catalog: GraftLakeCatalog,
    ident: Identifier,
    sql: String) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (!catalog.viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    GraftViews.requireAcyclic(session, ident, sql)
    val parsed = session.sessionState.sqlParser.parsePlan(sql)
    val schema = session.sessionState.executePlan(parsed).analyzed.schema
    catalog.replaceViewSql(ident, sql, schema)
    Nil
  }
}

case class GraftViewPropsCommand(
    catalog: GraftLakeCatalog,
    ident: Identifier,
    set: Map[String, String],
    unset: Seq[String],
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    import org.apache.spark.sql.connector.catalog.ViewChange
    if (!catalog.viewExists(ident))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    if (!ifExists) {
      val have = catalog.loadView(ident).properties()
      val missing = unset.filterNot(have.containsKey)
      require(missing.isEmpty,
        s"graft-lake ALTER VIEW: properties ${missing.mkString(", ")} do not " +
          "exist (use IF EXISTS)")
    }
    val changes = set.toSeq.map { case (k, v) => ViewChange.setProperty(k, v) } ++
      unset.map(ViewChange.removeProperty)
    catalog.alterView(ident, changes: _*): Unit
    Nil
  }
}

case class GraftDropViewCommand(
    catalog: GraftLakeCatalog,
    ident: Identifier,
    ifExists: Boolean) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    if (!catalog.dropView(ident) && !ifExists)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    Nil
  }
}

case class GraftRenameViewCommand(
    catalog: GraftLakeCatalog,
    from: Identifier,
    to: Identifier) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    catalog.renameView(from, to)
    Nil
  }
}

/** Lake-aware `SHOW CREATE TABLE` — round-trippable DDL for graft
  * tables AND logical views (vanilla Spark's DSv2 rendering knows
  * nothing of the manifest: partition transforms, stats/bloom columns,
  * delete mode, column clauses and view SQL would all be lost).
  * Tables render a CREATE TABLE whose re-execution yields an
  * equivalent empty table (schema incl. NOT NULL / DEFAULT /
  * GENERATED / IDENTITY clauses, the partition transform, engine +
  * user TBLPROPERTIES); CHECK constraints follow as `ALTER TABLE ...
  * ADD CONSTRAINT` statements (they have no CREATE clause in the
  * supported grammar). Internal bookkeeping (view definitions,
  * identity high-water marks) is NOT emitted — re-executing the DDL
  * must give a fresh table, not a view that believes it is refreshed.
  */
case class GraftShowCreateCommand(
    catalog: GraftLakeCatalog,
    ident: Identifier,
    nameParts: Seq[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {

  private def q(s: String): String =
    if (s.matches("[A-Za-z_][A-Za-z0-9_]*")) s else "`" + s.replace("`", "``") + "`"
  private def str(s: String): String = "'" + s.replace("'", "''") + "'"

  override def run(session: SparkSession): Seq[Row] = {
    val name = nameParts.map(q).mkString(".")
    val isTable = try catalog.tableExists(ident) catch { case _: Exception => false }
    if (!isTable && catalog.viewExists(ident)) return Seq(Row(viewDdl(name)))
    if (!isTable)
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchTableException(ident)

    import graft.operators.LakeTable
    val meta = LakeTable.snapshot(session, catalog.tableRoot(ident)).meta.get
    if (graft.operators.MatView.isView(meta.props)) return Seq(Row(matViewDdl(name, meta)))
    val gens = LakeTable.generatedOf(meta.schema).toMap
    val ids = LakeTable.identityOf(meta.schema)
      .map { case (n, s, st, a) => n -> ((s, st, a)) }.toMap
    val cols = meta.schema.fields.map { f =>
      val clauses = Seq(
        if (!f.nullable) Some("NOT NULL") else None,
        gens.get(f.name).map(e => s"GENERATED ALWAYS AS ($e)"),
        ids.get(f.name).map { case (start, step, allow) =>
          s"GENERATED ${if (allow) "BY DEFAULT" else "ALWAYS"} AS IDENTITY " +
            s"(START WITH $start INCREMENT BY $step)" },
        if (f.metadata.contains(LakeTable.CurrentDefaultKey))
          Some(s"DEFAULT ${f.metadata.getString(LakeTable.CurrentDefaultKey)}")
        else None,
        f.getComment().map(c => s"COMMENT ${str(c)}")
      ).flatten
      s"  ${q(f.name)} ${f.dataType.sql}" +
        (if (clauses.isEmpty) "" else clauses.mkString(" ", " ", ""))
    }.mkString(",\n")
    val part = meta.partitionFn match {
      case graft.operators.PartitionFn.Identity => q(meta.partitionCol)
      case fn if fn.contains(":") =>
        val Array(f0, n) = fn.split(":")
        s"$f0($n, ${q(meta.partitionCol)})"
      case fn => s"$fn(${q(meta.partitionCol)})"
    }
    val props =
      (if (meta.statsCols.nonEmpty)
        Seq("statsCols" -> meta.statsCols.mkString(",")) else Nil) ++
      (if (meta.bloomCols.nonEmpty)
        Seq("bloomCols" -> meta.bloomCols.mkString(",")) else Nil) ++
      (if (meta.deleteMode != "cow") Seq("deleteMode" -> meta.deleteMode) else Nil) ++
      meta.props.toSeq.filterNot { case (k, _) =>
        graft.operators.MatView.isInternalProp(k) || k.startsWith("identity.hw.") }.sortBy(_._1)
    val propsClause =
      if (props.isEmpty) ""
      else props.map { case (k, v) => s"${str(k)} = ${str(v)}" }
        .mkString("\nTBLPROPERTIES (\n  ", ",\n  ", ")")
    val checks = meta.checks.map { case (n, sql) =>
      s";\nALTER TABLE $name ADD CONSTRAINT ${q(n)} CHECK ($sql)" }.mkString
    Seq(Row(s"CREATE TABLE $name (\n$cols)\nPARTITIONED BY ($part)$propsClause$checks"))
  }

  /** A materialized view's stored definition is fully reconstructible
    * from its manifest props — rendering a plain CREATE TABLE
    * here would re-execute to a table that does not refresh.
    */
  private def matViewDdl(
      name: String, meta: graft.operators.LakeTable.TableMeta): String =
    s"CREATE MATERIALIZED VIEW $name AS\n" +
      graft.operators.MatView.definitionSelect(meta.props, catalog.renderTableIdent)

  private def viewDdl(name: String): String = {
    val v = catalog.loadView(ident)
    val aliases =
      if (v.columnAliases == null || v.columnAliases.isEmpty) ""
      else {
        val comments = Option(v.columnComments).getOrElse(Array.empty[String])
          .padTo(v.columnAliases.length, null)
        v.columnAliases.zip(comments).map { case (a, c) =>
          q(a) + Option(c).fold("")(cm => s" COMMENT ${str(cm)}")
        }.mkString(" (\n  ", ",\n  ", ")")
      }
    val props = v.properties().asScala.toSeq.sortBy(_._1)
    val propsClause =
      if (props.isEmpty) ""
      else props.map { case (k, vl) => s"${str(k)} = ${str(vl)}" }
        .mkString("\nTBLPROPERTIES (\n  ", ",\n  ", ")")
    s"CREATE VIEW $name$aliases$propsClause AS\n${v.query}"
  }
}

case class GraftShowViewsCommand(
    catalog: GraftLakeCatalog,
    namespace: Array[String],
    pattern: Option[String],
    override val output: Seq[Attribute]) extends LeafRunnableCommand {
  override def run(session: SparkSession): Seq[Row] = {
    // Spark's StringUtils.filterPattern semantics: '|'-separated
    // alternatives, each FULLY anchored and case-insensitive, '*' the
    // only wildcard — every other character is a literal (quoted, so
    // '.'/'+' in a name pattern do not act as regex)
    val re = pattern.map(p => java.util.regex.Pattern.compile(
      p.trim.split("\\|").map(alt =>
        alt.trim.split("\\*", -1).map(java.util.regex.Pattern.quote)
          .mkString("(?:", ".*", ")")).mkString("(?i)^(?:", "|", ")$")))
    catalog.listViews(namespace.toIndexedSeq: _*)
      .filter(i => re.forall(_.matcher(i.name).matches()))
      .map(i => Row(namespace.mkString("."), i.name, false)).toSeq
  }
}
