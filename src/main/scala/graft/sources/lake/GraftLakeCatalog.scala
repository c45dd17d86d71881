package graft.sources.lake

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, SparkSession}
import org.apache.spark.sql.catalyst.analysis.{
  NoSuchNamespaceException, NoSuchTableException, TableAlreadyExistsException}
import org.apache.spark.sql.connector.catalog._
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.ScanBuilder
import org.apache.spark.sql.connector.write.{
  LogicalWriteInfo, SupportsOverwrite, SupportsTruncate, V1Write, Write, WriteBuilder}
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.sources
import org.apache.spark.sql.sources.{Filter, InsertableRelation}
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.LakeTable

/** `spark.sql.catalog.graft` — the SQL-catalog face of the lake layer,
  * so a SQL-first user reaches every transactional verb without touching
  * the programmatic API:
  *
  * {{{
  *   spark.conf.set("spark.sql.catalog.graft", "graft.sources.lake.GraftLakeCatalog")
  *   spark.conf.set("spark.sql.catalog.graft.warehouse", "/data/lake")
  *
  *   CREATE TABLE graft.db.orders (k BIGINT, p STRING, v BIGINT)
  *     PARTITIONED BY (p) TBLPROPERTIES (statsCols 'k', bloomCols 'v')
  *   INSERT INTO graft.db.orders SELECT ...         -- transactional append
  *   INSERT OVERWRITE graft.db.orders SELECT ...    -- transactional replace
  *   SELECT * FROM graft.db.orders WHERE k < 10     -- manifest-pruned DSv2 scan
  *   SELECT * FROM graft.db.orders VERSION AS OF 3  -- time travel
  *   DELETE FROM graft.db.orders WHERE k = 7        -- copy-on-write delete
  *   MERGE INTO graft.db.orders t USING src s ON t.k = s.k
  *     WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *
  * }}}
  *
  * Identifiers map to `<warehouse>/<namespace...>/<table>`; a name that
  * is itself an absolute path (``graft.`/tmp/x/tbl` ``) addresses an
  * existing table root directly — the Delta `delta.`path`` idiom.
  *
  * READS go through Spark's own DSv2 parquet stack ([[ParquetScanBuilder]]
  * over [[LakeFileIndex]]): the manifest is the listing, pushed filters
  * prune files at plan time (partition + min/max stats + Bloom), and the
  * scan itself is the vectorized reader inside whole-stage codegen —
  * identical physical shape to the `graft-lake` DataFrame face. WRITES
  * map onto the transactional ops through [[V1Write]] (append →
  * [[LakeTable.append]], truncate/overwrite-all → [[LakeTable.overwrite]]),
  * so INSERT INTO from SQL gets the same atomic manifest commit. DELETE
  * FROM, UPDATE and MERGE INTO are planned by [[graft.plans.LakeMerge]]
  * onto [[LakeTable.delete]], [[LakeTable.update]] and
  * [[LakeTable.mergeClauses]] (the table's `deleteMode` picks file
  * rewrites or deletion vectors, never read-time filtering).
  *
  * Time travel: `VERSION AS OF n` resolves through [[LakeTable.snapshotAt]]
  * (with its vacuumed-version refusal); `TIMESTAMP AS OF t` picks the
  * highest version whose manifest commit time is at or before `t`
  * (commit time = the manifest file's modification time — the same
  * convention Delta uses).
  */
class GraftLakeCatalog extends TableCatalog with SupportsNamespaces with ProcedureCatalog
  with FunctionCatalog with ViewCatalog {

  private var catalogName: String = "graft"
  private var initWarehouse: Option[String] = None

  override def initialize(name: String, options: CaseInsensitiveStringMap): Unit = {
    catalogName = name
    initWarehouse = Option(options.get("warehouse")).filter(_.nonEmpty)
  }

  /** The warehouse root, resolved from the LIVE session conf on every
    * use (CatalogManager instantiates a catalog once per session and
    * caches it, so an initialize-time snapshot would silently pin the
    * warehouse to whatever the conf held at FIRST catalog lookup —
    * `spark.conf.set("spark.sql.catalog.graft.warehouse", ...)` on a
    * running session must redirect subsequent name resolution).
    */
  private def warehouse: String =
    spark.conf.getOption(s"spark.sql.catalog.$catalogName.warehouse")
      .filter(_.nonEmpty)
      .orElse(initWarehouse)
      .getOrElse(s"${System.getProperty("java.io.tmpdir")}/graft-lake-warehouse")

  override def name(): String = catalogName

  // ALTER TABLE ... ADD/DROP CONSTRAINT and column DEFAULT values reach
  // the catalog only when declared (see the TableChange cases; defaults
  // arrive as CURRENT_DEFAULT/EXISTS_DEFAULT StructField metadata on
  // CREATE and as AddColumn.defaultValue on ALTER)
  override def capabilities(): util.Set[TableCatalogCapability] =
    util.EnumSet.of(
      TableCatalogCapability.SUPPORT_TABLE_CONSTRAINT,
      TableCatalogCapability.SUPPORT_COLUMN_DEFAULT_VALUE,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_GENERATED_COLUMNS,
      TableCatalogCapability.SUPPORTS_CREATE_TABLE_WITH_IDENTITY_COLUMNS)

  private def spark: SparkSession = SparkSession.active

  // ---- stored procedures (CALL graft.system.<proc>(...)) -------------

  /** Table-name ARGUMENT resolution for procedures: 'db.t' →
    * `<warehouse>/db/t`; an absolute '/path' is a root directly — the
    * same mapping [[rootOf]] applies to identifiers.
    */
  private def rootOfName(n: String): String =
    if (n.startsWith("/")) n else s"$warehouse/${n.split('.').mkString("/")}"

  /** Render a physical table root back as the logical identifier it
    * maps to under THIS catalog (the reverse of [[rootOfName]]): a root
    * under the warehouse renders as `<catalogName>.<ns>.<table>`,
    * anything else as `<catalogName>.\`/path\`` — so SHOW CREATE emits
    * DDL that re-executes under the catalog's registered name instead
    * of a hardcoded `graft`, and stops leaking physical paths for
    * catalog-named tables.
    */
  private[lake] def renderTableIdent(root: String): String = {
    def q(part: String): String =
      if (part.matches("[A-Za-z_][A-Za-z0-9_]*")) part
      else s"`${part.replace("`", "``")}`"
    if (root.startsWith(s"$warehouse/"))
      (catalogName +: root.stripPrefix(s"$warehouse/").split('/').toSeq)
        .map(q).mkString(".")
    else s"${q(catalogName)}.`${root.replace("`", "``")}`"
  }

  private lazy val procedures = GraftLakeProcedures.all(() => spark, rootOfName)

  override def loadProcedure(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.procedures.UnboundProcedure = {
    require(ident.namespace.sameElements(Array("system")),
      s"graft-lake: procedures live under the `system` namespace " +
        s"(CALL graft.system.<name>(...)), got ${ident.namespace.mkString(".")}")
    procedures.getOrElse(ident.name.toLowerCase(java.util.Locale.ROOT),
      throw new UnsupportedOperationException(
        s"graft-lake: unknown procedure ${ident.name}; available: " +
          procedures.keys.toSeq.sorted.mkString(", ")))
  }

  override def listProcedures(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      procedures.keys.toSeq.sorted.map(Identifier.of(Array("system"), _)).toArray
    else Array.empty

  // ---- V2 catalog functions (FunctionCatalog) -------------------------
  // Partition-transform resolution loads these at the ROOT namespace
  // (V2ExpressionUtils probes `loadFunction(Identifier.of([], name))`
  // when a scan reports a transform partitioning); the SQL face reaches
  // them as `graft.system.<fn>(...)`.

  override def listFunctions(namespace: Array[String]): Array[Identifier] =
    if (namespace.isEmpty || namespace.sameElements(Array("system")))
      GraftFunctions.all.keys.toSeq.sorted.map(Identifier.of(namespace, _)).toArray
    else Array.empty

  override def loadFunction(ident: Identifier)
      : org.apache.spark.sql.connector.catalog.functions.UnboundFunction = {
    val known = ident.namespace.isEmpty || ident.namespace.sameElements(Array("system"))
    if (known) GraftFunctions.resolve(ident.name.toLowerCase(java.util.Locale.ROOT)) match {
      case Some(f) => return f
      case None => ()
    }
    throw new org.apache.spark.sql.catalyst.analysis.NoSuchFunctionException(ident)
  }

  /** Table root for an identifier: absolute-path names address a table
    * root directly; everything else lives under the warehouse.
    */
  private def rootOf(ident: Identifier): String =
    if (ident.namespace.isEmpty && ident.name.startsWith("/")) ident.name
    else (ident.namespace :+ ident.name).mkString(s"$warehouse/", "/", "")

  private def exists(root: String): Boolean =
    LakeTable.snapshot(spark, root).version > 0

  override def tableExists(ident: Identifier): Boolean = exists(rootOf(ident))

  /** The filesystem root an identifier maps to — the SQL materialized-
    * view DDL lowers onto the root-addressed MatView API through this.
    */
  private[lake] def tableRoot(ident: Identifier): String = rootOf(ident)

  override def loadTable(ident: Identifier): Table = {
    // `<table>.__changes` — the derived change-feed table (the Iceberg
    // metadata-table pattern): `SELECT * FROM graft.db.t.__changes` /
    // `spark.readStream.option("keyCols", ...).table("graft.db.t.__changes")`
    if (ident.name == "__changes" && ident.namespace.nonEmpty) {
      val base = Identifier.of(ident.namespace.init, ident.namespace.last)
      val baseRoot = rootOf(base)
      val snap = LakeTable.snapshot(spark, baseRoot)
      if (snap.version > 0)
        return new GraftLakeChangesTable(s"$base.__changes", baseRoot, snap)
    }
    // `<table>.__branch_<name>` — a WRITABLE BRANCH as a full table
    // face: SELECT / INSERT INTO / DELETE / UPDATE / MERGE INTO all
    // address the branch's own version line (LakeTable ops accept the
    // branch ref everywhere), while data files land in the shared table
    // tree and main never sees them until CALL graft.system.fast_forward
    if (ident.name.startsWith("__branch_") && ident.namespace.nonEmpty) {
      val bname = ident.name.stripPrefix("__branch_")
      val base = Identifier.of(ident.namespace.init, ident.namespace.last)
      val baseRoot = rootOf(base)
      if (exists(baseRoot)) {
        val ref = LakeTable.branchRef(baseRoot, bname)
        val snap = LakeTable.snapshot(spark, ref)
        if (snap.version > 0)
          return new GraftLakeV2Table(s"$base.__branch_$bname", ref, snap)
      }
    }
    // `<table>.__files` / `<table>.__partitions` — manifest inspection
    // as derived READ-ONLY tables (the Iceberg metadata-table pattern):
    // both plan as driver-local rows straight from the snapshot, zero
    // data files opened, at any table size.
    if (Seq("__files", "__partitions", "__history").contains(ident.name) &&
        ident.namespace.nonEmpty) {
      val base = Identifier.of(ident.namespace.init, ident.namespace.last)
      val baseRoot = rootOf(base)
      val snap = LakeTable.snapshot(spark, baseRoot)
      if (snap.version > 0)
        return new GraftLakeMetaTable(s"$base.${ident.name}", baseRoot, snap,
          face = ident.name.stripPrefix("__"))
    }
    val root = rootOf(ident)
    val snap = LakeTable.snapshot(spark, root)
    if (snap.version == 0) throw new NoSuchTableException(ident)
    new GraftLakeV2Table(ident.toString, root, snap)
  }

  override def loadTable(ident: Identifier, version: String): Table = {
    // snapshot-shaped metadata tables time-travel too: "what files /
    // partition sizes did v3 (or tag 'training_v1') have" — the audit
    // companion of VERSION AS OF on the data (__history and __changes
    // are version-axis tables already, so they refuse here)
    if (Seq("__files", "__partitions").contains(ident.name) && ident.namespace.nonEmpty) {
      val base = Identifier.of(ident.namespace.init, ident.namespace.last)
      val baseRoot = rootOf(base)
      if (exists(baseRoot))
        return new GraftLakeMetaTable(s"$base.${ident.name}@v$version", baseRoot,
          LakeTable.snapshotAt(spark, baseRoot, resolveVersion(baseRoot, version)),
          face = ident.name.stripPrefix("__"))
    }
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    new GraftLakeV2Table(s"$ident@v$version", root,
      LakeTable.snapshotAt(spark, root, resolveVersion(root, version)), timeTravel = true)
  }

  /** Numeric = a manifest version; otherwise a NAMED TAG (a pinned
    * snapshot vacuum keeps alive — VERSION AS OF 'training_v1').
    */
  private def resolveVersion(root: String, version: String): Long =
    scala.util.Try(version.trim.toLong).getOrElse(
      LakeTable.resolveTag(spark, root, version.trim).getOrElse(
        throw new IllegalArgumentException(
          s"graft-lake: VERSION AS OF '$version' is neither a manifest version nor " +
            s"a tag (tags: ${LakeTable.tags(spark, root).keys.toSeq.sorted.mkString(", ")})")))

  override def loadTable(ident: Identifier, timestamp: Long): Table = {
    // timestamp arrives in MICROseconds; commit time = the manifest's
    // RECORDED #commitTime header (mtimes do not survive copies /
    // restores / object-store round-trips), mtime only as the fallback
    // for manifests written before the header existed
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    val dir = new Path(root, "_manifests")
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cutoff = timestamp / 1000L
    val versions = fs.listStatus(dir)
      .filter(s => s.getPath.getName.startsWith("v") && s.getPath.getName.endsWith(".manifest"))
      .map { s =>
        val v = s.getPath.getName.stripPrefix("v").stripSuffix(".manifest").toLong
        v -> LakeTable.commitTimeOf(spark, root, v).getOrElse(s.getModificationTime)
      }
      .filter(_._2 <= cutoff)
      .map(_._1)
    require(versions.nonEmpty,
      s"graft-lake: no version of $ident committed at or before timestamp ${timestamp}us")
    loadTable(ident, versions.max.toString)
  }

  /** The V2-column overload: the default bridge to the StructType
    * overload DROPS generation expressions (they live on the v2 Column,
    * not in field metadata) — re-attach them so `GENERATED ALWAYS AS`
    * survives into the manifest.
    */
  override def createTable(
      ident: Identifier,
      columns: Array[org.apache.spark.sql.connector.catalog.Column],
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val base = org.apache.spark.sql.GraftColumnBridge.v2ColumnsToStructType(columns)
    val gens = columns.toSeq
      .filter(_.generationExpression() != null)
      .map(c => c.name() -> c.generationExpression()).toMap
    val idents = columns.toSeq
      .filter(_.identityColumnSpec() != null)
      .map { c =>
        val sp = c.identityColumnSpec()
        c.name() -> ((sp.getStart, sp.getStep, sp.isAllowExplicitInsert))
      }.toMap
    createTable(ident,
      LakeTable.withIdentity(LakeTable.withGenerated(base, gens), idents),
      partitions, properties)
  }

  override def createTable(
      ident: Identifier,
      schema: StructType,
      partitions: Array[Transform],
      properties: util.Map[String, String]): Table = {
    val root = rootOf(ident)
    if (exists(root)) throw new TableAlreadyExistsException(ident)
    val props = properties.asScala
    def prop(key: String): Option[String] =
      props.get(key).orElse(props.get(s"${TableCatalog.OPTION_PREFIX}$key"))
    val (partitionCol, partitionFn) = partitions.toSeq match {
      case Seq() =>
        (prop("partitionCol").getOrElse(throw new UnsupportedOperationException(
          "graft-lake: CREATE TABLE needs PARTITIONED BY (col) or TBLPROPERTIES " +
            "(partitionCol '...')")),
          prop("partitionFn").getOrElse(graft.operators.PartitionFn.Identity))
      case Seq(t) if t.references.length == 1 &&
          t.references()(0).fieldNames.length == 1 =>
        val col = t.references()(0).fieldNames()(0)
        t.name match {
          case "identity" => (col, graft.operators.PartitionFn.Identity)
          // hidden partitioning: days(ts) / months(ts) / hours(ts) /
          // bucket(N, col) / truncate(W, col) — the Iceberg transforms
          case "days" | "months" | "hours" => (col, t.name)
          case "bucket" | "truncate" =>
            val width = t.arguments.collectFirst {
              case l: org.apache.spark.sql.connector.expressions.Literal[_]
                  if l.value != null =>
                l.value.toString.toInt
            }.getOrElse(throw new UnsupportedOperationException(
              s"graft-lake: ${t.name} needs an integer width, got $t"))
            (col, s"${t.name}:$width")
          case other => throw new UnsupportedOperationException(
            s"graft-lake: unsupported partition transform $other (have identity, " +
              "days, months, hours, bucket, truncate)")
        }
      case other => throw new UnsupportedOperationException(
        s"graft-lake: exactly one PARTITIONED BY transform over one column is " +
          s"supported, got ${other.mkString(", ")}")
    }
    def cols(key: String): Seq[String] =
      prop(key).map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    LakeTable.init(spark, root, empty, partitionCol,
      statsCols = cols("statsCols"), bloomCols = cols("bloomCols"),
      deleteMode = prop("deleteMode").getOrElse("cow"),
      partitionFn = partitionFn,
      props = userProps(properties))
    loadTable(ident)
  }

  /** TBLPROPERTIES entries that are neither engine-reserved nor
    * Spark-internal — carried verbatim in [[LakeTable.TableMeta.props]]
    * (annotations, ownership tags; the Delta arbitrary-property shape).
    */
  private def userProps(properties: util.Map[String, String]): Map[String, String] = {
    val reserved = Set("statsCols", "bloomCols", "deleteMode", "partitionCol",
      "provider", "location", "comment", "owner", "external", "path",
      "is_managed_location")
    import scala.jdk.CollectionConverters._
    properties.asScala.toMap.filterNot { case (k, _) =>
      reserved.contains(k) || k.startsWith("option.") || k.startsWith("spark.sql.") ||
        graft.operators.MatView.isInternalProp(k) || k.startsWith("identity.hw.")
    }
  }

  /** ALTER TABLE ADD COLUMNS (appended, nullable — a metadata-only
    * commit; old files read NULL), RENAME COLUMN (metadata-only under
    * column mapping: the field id stays, existing files keep reading by
    * id, stats cells and bloom sidecars keep pruning under the new
    * name), DROP COLUMN (metadata-only under column mapping: the field
    * leaves the schema and its id is retired via the manifest high-water
    * mark, so old data can never resurface under a later same-named
    * column), and SET TBLPROPERTIES for `statsCols`/`bloomCols` (take
    * effect for batches written after the change; old files are
    * conservatively never pruned on new columns), and ALTER COLUMN
    * TYPE for SAFE WIDENINGS (int-family->long/double, float->double,
    * decimal precision — the Iceberg promotion set; the parquet reader
    * up-converts old files at scan time). Everything else — narrowing,
    * repartitioning by rewrite — is refused: data files are immutable,
    * so those verbs would need a full rewrite.
    */
  override def alterTable(ident: Identifier, changes: TableChange*): Table = {
    val root = rootOf(ident)
    if (!exists(root)) throw new NoSuchTableException(ident)
    var addCols = Seq.empty[org.apache.spark.sql.types.StructField]
    var widenCols = Map.empty[String, org.apache.spark.sql.types.DataType]
    var statsCols: Option[Seq[String]] = None
    var bloomCols: Option[Seq[String]] = None
    var deleteMode: Option[String] = None
    var renames = Map.empty[String, String]
    var drops = Seq.empty[String]
    def split(v: String) = v.split(",").toSeq.map(_.trim).filter(_.nonEmpty)
    var addChecks = Seq.empty[(String, String)]
    var dropChecks = Seq.empty[String]
    val setProps = scala.collection.mutable.Map.empty[String, String]
    val unsetProps = scala.collection.mutable.Buffer.empty[String]
    val setDefaults = scala.collection.mutable.Map.empty[String, Option[String]]
    changes.foreach {
      case a: TableChange.AddConstraint =>
        a.constraint() match {
          case c: org.apache.spark.sql.connector.catalog.constraints.Check =>
            require(c.enforced(),
              "graft-lake: NOT ENFORCED check constraints are unsupported " +
                "(every write validates)")
            addChecks :+= c.name() -> c.predicateSql()
          case other => throw new UnsupportedOperationException(
            s"graft-lake: only CHECK constraints are supported, got ${other.toDDL}")
        }
      case d: TableChange.DropConstraint =>
        val known = LakeTable.snapshot(spark, root).meta
          .exists(_.checks.exists(_._1 == d.name()))
        if (known || !d.ifExists()) dropChecks :+= d.name()
      case d: TableChange.DeleteColumn =>
        require(d.fieldNames.length == 1,
          "graft-lake: DROP COLUMN supports top-level columns only")
        drops :+= d.fieldNames()(0)
      case r: TableChange.RenameColumn =>
        require(r.fieldNames.length == 1,
          "graft-lake: RENAME COLUMN supports top-level columns only")
        renames += r.fieldNames()(0) -> r.newName
      case a: TableChange.AddColumn =>
        require(a.fieldNames.length == 1,
          "graft-lake: ALTER TABLE ADD COLUMNS supports top-level columns only")
        require(a.position == null,
          "graft-lake: ADD COLUMNS appends at the end (FIRST/AFTER unsupported)")
        require(a.isNullable,
          s"graft-lake: added column ${a.fieldNames()(0)} must be nullable — every " +
            "pre-existing row reads NULL (or the DEFAULT) for it (a NOT NULL " +
            "constraint would be silently violated)")
        val plain = org.apache.spark.sql.types.StructField(
          a.fieldNames()(0), a.dataType, nullable = true)
        addCols :+= Option(a.defaultValue()).fold(plain) { dv =>
          // INSERT-time default = the user's SQL; exists-default (what
          // PRE-ADD files read for the column) = the folded literal,
          // frozen now — the Delta add-column-with-default semantics
          val existsSql = org.apache.spark.sql.catalyst.expressions
            .Literal(dv.getValue.value(), a.dataType).sql
          val curSql = Option(dv.getSql).getOrElse(existsSql)
          plain.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
            .putString(LakeTable.CurrentDefaultKey, curSql)
            .putString(LakeTable.ExistsDefaultKey, existsSql).build())
        }
      // ALTER COLUMN c TYPE t: metadata-only TYPE WIDENING (Iceberg
      // promotion set) — LakeTable.alterTable validates the (from, to)
      // pair and refuses narrowing / partition columns / generated
      // inputs with a crisp error
      case u: TableChange.UpdateColumnType =>
        require(u.fieldNames().length == 1,
          "graft-lake: ALTER COLUMN TYPE supports top-level columns only")
        widenCols += (u.fieldNames()(0) -> u.newDataType())
      case u: TableChange.UpdateColumnDefaultValue =>
        require(u.fieldNames().length == 1,
          s"graft-lake: SET/DROP DEFAULT on nested field ${u.fieldNames().mkString(".")}")
        setDefaults += (u.fieldNames()(0) ->
          Option(u.newDefaultValue()).filter(_.nonEmpty))
      case s: TableChange.SetProperty if s.property == "statsCols" =>
        statsCols = Some(split(s.value))
      case s: TableChange.SetProperty if s.property == "bloomCols" =>
        bloomCols = Some(split(s.value))
      case s: TableChange.SetProperty if s.property == "deleteMode" =>
        deleteMode = Some(s.value)
      // view-definition props are maintained by refresh_matview's atomic
      // commits — hand-editing them via SQL would desynchronize the view
      case s: TableChange.SetProperty if graft.operators.MatView.isInternalProp(s.property) =>
        throw new UnsupportedOperationException(
          s"graft-lake: ${s.property} is maintained by graft.system.refresh_matview")
      case s: TableChange.SetProperty if s.property.startsWith("identity.hw.") =>
        throw new UnsupportedOperationException(
          s"graft-lake: ${s.property} is maintained by the identity write path")
      case s: TableChange.SetProperty =>
        setProps += (s.property -> s.value)
      // symmetric with the SetProperty fences above: dropping the
      // high-water pin would let identity allocation fall back to data
      // bounds and reuse values of deleted rows
      case r: TableChange.RemoveProperty
          if graft.operators.MatView.isInternalProp(r.property) ||
            r.property.startsWith("identity.hw.") =>
        throw new UnsupportedOperationException(
          s"graft-lake: ${r.property} is engine-maintained and cannot be unset")
      case r: TableChange.RemoveProperty =>
        unsetProps += r.property
      case other => throw new UnsupportedOperationException(
        s"graft-lake: unsupported ALTER TABLE change $other (immutable data files; " +
          "only ADD COLUMNS, RENAME/DROP COLUMN and SET TBLPROPERTIES statsCols/bloomCols " +
          "are metadata-only)")
    }
    LakeTable.alterTable(spark, root, addCols, statsCols, bloomCols, renames, drops,
      addChecks, dropChecks, deleteMode = deleteMode,
      setProps = setProps.toMap, unsetProps = unsetProps.toSeq,
      setDefaults = setDefaults.toMap, widenColumns = widenCols)
    loadTable(ident)
  }

  override def dropTable(ident: Identifier): Boolean = {
    val root = rootOf(ident)
    val p = new Path(root)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    exists(root) && fs.delete(p, true)
  }

  override def renameTable(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val (from, to) = (new Path(rootOf(oldIdent)), new Path(rootOf(newIdent)))
    val fs = from.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!exists(rootOf(oldIdent))) throw new NoSuchTableException(oldIdent)
    if (exists(rootOf(newIdent))) throw new TableAlreadyExistsException(newIdent)
    fs.mkdirs(to.getParent)
    require(fs.rename(from, to), s"graft-lake: rename $from -> $to failed")
  }

  override def listTables(namespace: Array[String]): Array[Identifier] = {
    val dir = new Path((s"$warehouse" +: namespace).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) throw new NoSuchNamespaceException(namespace)
    fs.listStatus(dir).filter(_.isDirectory)
      .filter(s => fs.exists(new Path(s.getPath, "_manifests")))
      .map(s => Identifier.of(namespace, s.getPath.getName))
  }

  // ---- namespaces (directory-backed, metadata-free) -------------------

  override def listNamespaces(): Array[Array[String]] = listNamespaces(Array.empty)

  /** Child namespaces of `namespace` = its subdirectories that are not
    * tables — so nested namespaces (graft.a.b) are listable at every
    * level, matching createNamespace/createTable's multi-level support.
    */
  override def listNamespaces(namespace: Array[String]): Array[Array[String]] = {
    val dir = new Path((s"$warehouse" +: namespace).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) {
      if (namespace.isEmpty) Array.empty
      else throw new NoSuchNamespaceException(namespace)
    } else
      fs.listStatus(dir).filter(_.isDirectory)
        .filterNot(s => fs.exists(new Path(s.getPath, "_manifests")))
        .map(s => namespace :+ s.getPath.getName)
  }

  override def namespaceExists(namespace: Array[String]): Boolean = {
    val dir = new Path((s"$warehouse" +: namespace).mkString("/"))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(dir)
  }

  override def loadNamespaceMetadata(namespace: Array[String]): util.Map[String, String] =
    if (namespaceExists(namespace)) new util.HashMap[String, String]()
    else throw new NoSuchNamespaceException(namespace)

  override def createNamespace(
      namespace: Array[String], metadata: util.Map[String, String]): Unit = {
    val dir = new Path((s"$warehouse" +: namespace).mkString("/"))
    dir.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(dir)
  }

  override def alterNamespace(namespace: Array[String], changes: NamespaceChange*): Unit =
    throw new UnsupportedOperationException("graft-lake: namespaces carry no metadata")

  override def dropNamespace(namespace: Array[String], cascade: Boolean): Boolean = {
    val dir = new Path((s"$warehouse" +: namespace).mkString("/"))
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(dir)) false
    else {
      require(cascade || fs.listStatus(dir).isEmpty,
        s"graft-lake: namespace ${namespace.mkString(".")} is not empty")
      fs.delete(dir, true)
    }
  }

  // ---- logical views (ViewCatalog) ------------------------------------
  // `CREATE VIEW graft.db.v AS SELECT ...` — plain SQL views resolved
  // through the catalog (the DSv2 ViewCatalog contract): the definition
  // persists as one small properties file under `<ns>/_views/` (views
  // are metadata, not version lines — no manifest machinery needed), and
  // Spark's analyzer substitutes the stored SQL at read time, so pruning
  // and pushdown through the view hit the lake scan exactly as if the
  // query were inlined.

  private def viewFile(ident: Identifier): Path =
    // absolute-path names address the view file directly (the same
    // `graft.`/path`` idiom tables support); everything else lives
    // under `<warehouse>/<ns...>/_views/`
    if (ident.namespace.isEmpty && ident.name.startsWith("/"))
      new Path(s"${ident.name}.view")
    else new Path(((ident.namespace :+ "_views").mkString(s"$warehouse/", "/", "")) +
      s"/${ident.name}.view")

  private def viewFs(p: Path) = p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // array cells join on U+001F; a NULL cell (a column without a comment)
  // rides as U+0000 (neither can appear in SQL identifiers or comments)
  private val ViewSep = '\u001F'
  private val ViewNull = "\u0000"

  private def packArr(a: Array[String]): String =
    if (a == null) "" else a.map(x => if (x == null) ViewNull else x).mkString(ViewSep.toString)

  private def unpackArr(s: String): Array[String] =
    if (s == null || s.isEmpty) Array.empty
    else s.split(ViewSep).map(x => if (x == ViewNull) null else x)

  override def viewExists(ident: Identifier): Boolean = {
    val p = viewFile(ident)
    viewFs(p).exists(p)
  }

  override def listViews(namespace: String*): Array[Identifier] = {
    val dir = new Path((namespace :+ "_views").mkString(s"$warehouse/", "/", ""))
    val f = viewFs(dir)
    if (!f.exists(dir)) Array.empty
    else f.listStatus(dir).filter(_.isFile).map(_.getPath.getName)
      .filter(_.endsWith(".view")).sorted
      .map(n => Identifier.of(namespace.toArray, n.stripSuffix(".view")))
  }

  override def loadView(ident: Identifier): View = {
    val p = viewFile(ident)
    val f = viewFs(p)
    if (!f.exists(p))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(ident)
    val props = new java.util.Properties
    val in = f.open(p)
    try props.load(new java.io.InputStreamReader(in, "UTF-8")) finally in.close()
    new GraftLakeView(ident, props, unpackArr)
  }

  override def createView(info: ViewInfo): View = {
    if (viewExists(info.ident))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(info.ident)
    val props = new java.util.Properties
    props.setProperty("sql", info.sql)
    props.setProperty("currentCatalog", info.currentCatalog)
    props.setProperty("currentNamespace", packArr(info.currentNamespace))
    props.setProperty("schema", info.schema.toDDL)
    props.setProperty("queryColumnNames", packArr(info.queryColumnNames))
    props.setProperty("columnAliases", packArr(info.columnAliases))
    props.setProperty("columnComments", packArr(info.columnComments))
    Option(info.properties).foreach(_.asScala.foreach { case (k, v) =>
      props.setProperty(s"prop.$k", v) })
    writeView(info.ident, props)
    loadView(info.ident)
  }

  override def alterView(ident: Identifier, changes: ViewChange*): View = {
    val v = loadView(ident).asInstanceOf[GraftLakeView]
    val props = v.raw
    changes.foreach {
      case s: ViewChange.SetProperty => props.setProperty(s"prop.${s.property}", s.value)
      case r: ViewChange.RemoveProperty => props.remove(s"prop.${r.property}"): Unit
      case other => throw new UnsupportedOperationException(
        s"graft-lake: unsupported view change $other")
    }
    writeView(ident, props)
    loadView(ident)
  }

  /** ALTER VIEW ... AS: swap the stored SQL + recorded schema in place,
    * keeping creation context and properties verbatim. The original
    * CREATE's column list does NOT carry over (ALTER VIEW AS replaces
    * the definition INCLUDING its columns — Spark/Delta semantics):
    * stale aliases re-applied over a different-arity query would
    * silently truncate columns via zip.
    */
  private[lake] def replaceViewSql(
      ident: Identifier, sql: String, schema: StructType): Unit = {
    val v = loadView(ident).asInstanceOf[GraftLakeView]
    val props = v.raw
    props.setProperty("sql", sql)
    props.setProperty("schema", schema.toDDL)
    props.setProperty("queryColumnNames", packArr(schema.fieldNames))
    props.setProperty("columnAliases", "")
    props.setProperty("columnComments", "")
    writeView(ident, props)
  }

  override def dropView(ident: Identifier): Boolean = {
    val p = viewFile(ident)
    val f = viewFs(p)
    f.exists(p) && f.delete(p, false)
  }

  override def renameView(oldIdent: Identifier, newIdent: Identifier): Unit = {
    val (op, np) = (viewFile(oldIdent), viewFile(newIdent))
    val f = viewFs(op)
    if (!f.exists(op))
      throw new org.apache.spark.sql.catalyst.analysis.NoSuchViewException(oldIdent)
    if (viewExists(newIdent))
      throw new org.apache.spark.sql.catalyst.analysis.ViewAlreadyExistsException(newIdent)
    f.mkdirs(np.getParent)
    require(f.rename(op, np),
      s"graft-lake: rename of view $oldIdent to $newIdent failed")
  }

  private def writeView(ident: Identifier, props: java.util.Properties): Unit = {
    val p = viewFile(ident)
    val f = viewFs(p)
    f.mkdirs(p.getParent)
    val out = f.create(p, true)
    try props.store(new java.io.OutputStreamWriter(out, "UTF-8"), null)
    finally out.close()
  }
}

/** One persisted logical view (see the ViewCatalog section above). */
private[lake] class GraftLakeView(
    ident: Identifier,
    props: java.util.Properties,
    unpack: String => Array[String]) extends View {
  private[lake] def raw: java.util.Properties = props
  override def name(): String = ident.toString
  override def query(): String = props.getProperty("sql")
  override def currentCatalog(): String = props.getProperty("currentCatalog")
  override def currentNamespace(): Array[String] = unpack(props.getProperty("currentNamespace"))
  override def schema(): StructType = StructType.fromDDL(props.getProperty("schema"))
  override def queryColumnNames(): Array[String] = unpack(props.getProperty("queryColumnNames"))
  override def columnAliases(): Array[String] = unpack(props.getProperty("columnAliases"))
  override def columnComments(): Array[String] = unpack(props.getProperty("columnComments"))
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    props.stringPropertyNames().asScala.foreach { k =>
      if (k.startsWith("prop.")) m.put(k.stripPrefix("prop."), props.getProperty(k))
    }
    m
  }
}

/** The DSv2 table handle: a PINNED snapshot (reads are query-consistent;
  * a concurrent commit is invisible to an already-planned scan), with
  * scans on Spark's vectorized parquet stack over the manifest index and
  * writes/deletes routed to the transactional ops against the CURRENT
  * table state at execution time.
  */
class GraftLakeV2Table(
    tableName: String,
    val root: String,
    snap: LakeTable.Snapshot,
    timeTravel: Boolean = false)
  extends Table
  with SupportsRead
  with SupportsWrite
  with SupportsDelete {

  val meta: LakeTable.TableMeta = snap.meta.get
  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName

  override def schema(): StructType = GraftLake.nullable(meta.schema)

  override def partitioning(): Array[Transform] = {
    import org.apache.spark.sql.connector.expressions.Expressions
    val t = graft.operators.PartitionFn.parse(meta.partitionFn) match {
      case ("identity", _) => Expressions.identity(meta.partitionCol)
      case ("days", _) => Expressions.days(meta.partitionCol)
      case ("months", _) => Expressions.months(meta.partitionCol)
      case ("hours", _) => Expressions.hours(meta.partitionCol)
      case ("bucket", n) => Expressions.bucket(n, meta.partitionCol)
      case ("truncate", n) => Expressions.apply("truncate",
        Expressions.literal(n), Expressions.column(meta.partitionCol))
    }
    Array(t)
  }

  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap[String, String]()
    meta.props.foreach { case (k, v) => m.put(k, v) }
    m.put("partitionCol", meta.partitionCol)
    if (meta.statsCols.nonEmpty) m.put("statsCols", meta.statsCols.mkString(","))
    if (meta.bloomCols.nonEmpty) m.put("bloomCols", meta.bloomCols.mkString(","))
    if (meta.deleteMode != "cow") m.put("deleteMode", meta.deleteMode)
    m.put("version", snap.version.toString)
    // DESCRIBE TABLE EXTENDED surfaces the snapshot's metadata story:
    // file count and (when every entry records counts) the exact row
    // count, both manifest folds with zero data I/O
    m.put("numFiles", snap.entries.size.toString)
    if (snap.entries.forall(_.rows.isDefined))
      m.put("numRows", snap.entries.flatMap(_.liveRows).sum.toString)
    if (snap.entries.forall(_.bytes.isDefined))
      m.put("sizeInBytes", snap.entries.flatMap(_.bytes).sum.toString)
    m
  }

  override def capabilities(): util.Set[TableCapability] = {
    val caps = util.EnumSet.of(
      TableCapability.BATCH_READ,
      TableCapability.MICRO_BATCH_READ,
      TableCapability.V1_BATCH_WRITE,
      TableCapability.STREAMING_WRITE,
      TableCapability.TRUNCATE,
      TableCapability.OVERWRITE_BY_FILTER,
      // MERGE ... WITH SCHEMA EVOLUTION: the analyzer's
      // ResolveMergeIntoSchemaEvolution widens the table through
      // alterTable (the SAME metadata-only ADD COLUMNS commit as ALTER
      // TABLE) and re-resolves the target before our DML strategy plans
      // the clause merge — old files read NULL through, evolution is
      // still an explicit per-statement opt-in
      TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }

  /** The table's CHECK constraints, declared to Spark (DESCRIBE shows
    * them; the analyzer may add its own write-side validation on top of
    * the engine's own enforcement in every LakeTable write path).
    */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints.Constraint] = {
    import org.apache.spark.sql.connector.catalog.constraints.Constraint
    meta.checks.map { case (n, sql) =>
      Constraint.check(n).predicateSql(sql)
        .enforced(true)
        .validationStatus(Constraint.ValidationStatus.VALID)
        .build(): Constraint
    }.toArray
  }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeScanBuilder(spark, root, meta, snap.entries, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    require(!timeTravel, s"graft-lake: cannot write to a time-travel snapshot of $tableName")
    new LakeWriteBuilder(root, info)
  }

  // ---- DELETE FROM ----------------------------------------------------

  override def canDeleteWhere(filters: Array[Filter]): Boolean =
    filters.forall(f => GraftLakeCatalog.filterToColumn(f).isDefined)

  override def deleteWhere(filters: Array[Filter]): Unit = {
    require(!timeTravel, s"graft-lake: cannot delete from a time-travel snapshot of $tableName")
    // Spark gates this behind canDeleteWhere, but enforce the contract
    // here too: silently dropping an untranslatable filter would delete
    // MORE rows than requested — fail crisply on a contract violation
    require(filters.forall(f => GraftLakeCatalog.filterToColumn(f).isDefined),
      s"graft-lake deleteWhere: untranslatable filter in ${filters.mkString(", ")} " +
        "(canDeleteWhere must gate this call)")
    val cond = filters.flatMap(GraftLakeCatalog.filterToColumn)
      .reduceOption(_ && _).getOrElse(lit(true))
    LakeTable.delete(spark, root, cond, meta.partitionCol)
  }
}

/** The derived `<table>.__changes` table: READ-ONLY, schema = base
  * schema + `_change_type` / `_commit_version`, scans served by
  * [[LakeChangesScan]] (batch changelog + micro-batch CDF on manifest-
  * version offsets). Snapshot-pinned like the base table handle.
  */
class GraftLakeChangesTable(
    tableName: String,
    val root: String,
    snap: LakeTable.Snapshot)
  extends Table
  with SupportsRead {

  val meta: LakeTable.TableMeta = snap.meta.get
  private def spark: SparkSession = SparkSession.active

  override def name(): String = tableName

  override def schema(): StructType =
    GraftLake.cdfSchema(GraftLake.nullable(meta.schema))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new LakeChangesScanBuilder(spark, root, meta, options)
}

/** The derived `<table>.__files` and `<table>.__partitions` metadata
  * tables: manifest inspection through plain SQL, planned as
  * driver-local rows ([[LakeLocalAggScan]] — LocalTableScanExec, zero
  * data files opened at any table size). Snapshot-pinned at load.
  */
class GraftLakeMetaTable(
    tableName: String,
    val root: String,
    snap: LakeTable.Snapshot,
    face: String) // "files" | "partitions" | "history"
  extends Table
  with SupportsRead {

  import org.apache.spark.sql.types._
  import org.apache.spark.unsafe.types.UTF8String

  private val meta: LakeTable.TableMeta = snap.meta.get

  override def name(): String = tableName

  override def schema(): StructType =
    if (face == "history") StructType(Seq(
      StructField("version", LongType, nullable = false),
      StructField("files", LongType, nullable = false),
      StructField("rows", LongType),
      StructField("files_added", LongType, nullable = false),
      StructField("rows_added", LongType),
      StructField("files_removed", LongType, nullable = false),
      StructField("rows_removed", LongType)))
    else if (face == "files") StructType(Seq(
      StructField("partition", StringType),
      StructField("file", StringType, nullable = false),
      StructField("rows", LongType),
      StructField("live_rows", LongType),
      StructField("bytes", LongType),
      StructField("dv_cardinality", LongType, nullable = false),
      StructField("stats", StringType)))
    else StructType(Seq(
      StructField("partition", StringType),
      StructField("files", LongType, nullable = false),
      StructField("rows", LongType),
      StructField("live_rows", LongType),
      StructField("bytes", LongType)))

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ)

  private def partVal(p: String): UTF8String =
    if (p == LakeTable.NullPartition) null else UTF8String.fromString(p)

  // exact-or-null: a legacy entry without the cell nulls the whole sum
  // rather than under-reporting
  private def sumOpt(xs: Seq[Option[Long]]): Any =
    if (xs.exists(_.isEmpty)) null else xs.flatten.sum

  private def rows(): Seq[org.apache.spark.sql.catalyst.InternalRow] =
    if (face == "history")
      LakeTable.historyRows(SparkSession.active, root).map {
        case (v, files, rws, fa, ra, fr, rr) =>
          org.apache.spark.sql.catalyst.InternalRow(
            v, files, rws.map(Long.box).orNull, fa, ra.map(Long.box).orNull,
            fr, rr.map(Long.box).orNull)
      }
    else if (face == "files") snap.entries.map { e =>
      val stats = meta.statsCols.zip(e.stats).collect {
        case (c, (Some(mn), Some(mx))) => s"$c=[$mn..$mx]"
      }.mkString(";")
      org.apache.spark.sql.catalyst.InternalRow(
        partVal(e.part), UTF8String.fromString(e.rel),
        e.rows.map(Long.box).orNull, e.liveRows.map(Long.box).orNull,
        e.bytes.map(Long.box).orNull, e.dv.fold(0L)(_.card),
        if (stats.isEmpty) null else UTF8String.fromString(stats))
    }
    else snap.entries.groupBy(_.part).toSeq.map { case (p, es) =>
      org.apache.spark.sql.catalyst.InternalRow(
        partVal(p), es.size.toLong,
        sumOpt(es.map(_.rows)), sumOpt(es.map(_.liveRows)), sumOpt(es.map(_.bytes)))
    }

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder =
    new ScanBuilder {
      override def build(): org.apache.spark.sql.connector.read.Scan =
        new LakeLocalAggScan(root, schema(), rows())
    }
}

/** INSERT INTO / INSERT OVERWRITE as transactional manifest commits via
  * the V1 write bridge (the data still flows through Spark's normal
  * parquet write path inside [[LakeTable.writeBatch]]; V1Write only
  * carries the DataFrame across the DSv2 boundary), plus the STREAMING
  * face: `writeStream.toTable` routes to [[LakeStreamingWrite]]
  * (append-mode only — a streaming truncate/complete would need a
  * per-epoch overwrite contract the lake does not define).
  */
class LakeWriteBuilder(root: String, info: LogicalWriteInfo) extends WriteBuilder
  with SupportsTruncate with SupportsOverwrite {

  private var replaceAll = false

  override def truncate(): WriteBuilder = { replaceAll = true; this }

  override def overwrite(filters: Array[Filter]): WriteBuilder = {
    val allRows = filters.isEmpty || filters.forall(_.isInstanceOf[sources.AlwaysTrue])
    if (!allRows) throw new UnsupportedOperationException(
      "graft-lake: INSERT OVERWRITE supports full-table overwrite only " +
        s"(got filters ${filters.mkString(", ")})")
    truncate()
  }

  override def build(): Write = new V1Write {
    override def toInsertableRelation: InsertableRelation =
      new InsertableRelation {
        override def insert(data: org.apache.spark.sql.DataFrame, overwrite: Boolean): Unit = {
          val spark = data.sparkSession
          if (replaceAll || overwrite) LakeTable.overwrite(spark, root, data)
          else LakeTable.append(spark, root, data)
        }
      }

    override def toStreaming
        : org.apache.spark.sql.connector.write.streaming.StreamingWrite = {
      if (replaceAll) throw new UnsupportedOperationException(
        "graft-lake: streaming writes are append-only (complete/update output " +
          "modes would truncate per epoch)")
      // the epoch write path publishes task files directly (no
      // writeBatch funnel), so it cannot compute generation
      // expressions — refuse instead of committing stale values
      LakeTable.snapshot(SparkSession.active, root).meta.foreach { m =>
        if (LakeTable.generatedOf(m.schema).nonEmpty ||
          LakeTable.identityOf(m.schema).nonEmpty)
          throw new UnsupportedOperationException(
            "graft-lake: streaming writes to a table with GENERATED/IDENTITY columns " +
              "are not supported — compute the column in the stream query instead")
      }
      new LakeStreamingWrite(root, info.schema(), info.queryId())
    }
  }
}

object GraftLakeCatalog {

  /** A DSv1 pushed [[Filter]] as a Column predicate (for the COW
    * [[LakeTable.delete]]); None = not translatable, which fails
    * `canDeleteWhere` crisply instead of deleting the wrong rows.
    */
  private[lake] def filterToColumn(f: Filter): Option[Column] = f match {
    case sources.EqualTo(a, v) => Some(col(a) === lit(v))
    case sources.EqualNullSafe(a, v) => Some(col(a) <=> lit(v))
    case sources.GreaterThan(a, v) => Some(col(a) > lit(v))
    case sources.GreaterThanOrEqual(a, v) => Some(col(a) >= lit(v))
    case sources.LessThan(a, v) => Some(col(a) < lit(v))
    case sources.LessThanOrEqual(a, v) => Some(col(a) <= lit(v))
    case sources.In(a, vs) => Some(col(a).isin(vs.toIndexedSeq: _*))
    case sources.IsNull(a) => Some(col(a).isNull)
    case sources.IsNotNull(a) => Some(col(a).isNotNull)
    case sources.StringStartsWith(a, v) => Some(col(a).startsWith(v))
    case sources.StringEndsWith(a, v) => Some(col(a).endsWith(v))
    case sources.StringContains(a, v) => Some(col(a).contains(v))
    case sources.And(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc && rc
    case sources.Or(l, r) =>
      for (lc <- filterToColumn(l); rc <- filterToColumn(r)) yield lc || rc
    case sources.Not(c) => filterToColumn(c).map(!_)
    case _: sources.AlwaysTrue => Some(lit(true))
    case _: sources.AlwaysFalse => Some(lit(false))
    case _ => None
  }
}
