package graft.operators

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{
  BooleanType, DateType, NumericType, StringType, StructType, TimestampNTZType, TimestampType}

import graft.sources.lake.LakeFileIndex

/** Transactional copy-on-write table on plain parquet — the MERGE INTO
  * upsert the incremental-ingest chain (q113 signature appends, q117
  * incremental groups, streaming sinks) was missing: those paths can
  * append forever, but correcting or upserting previously-written rows
  * required rewriting the whole dataset non-atomically.
  *
  * Design (the lakehouse-log idiom, scaled down to its essentials):
  *
  *   - data files are immutable parquet under `<root>/data/batch-*&#47;`,
  *     each carrying the FULL schema (the partition column is stored in
  *     the file as well as in the directory name, so any file list reads
  *     standalone);
  *   - a SNAPSHOT is a manifest file `<root>/_manifests/v<N>.manifest`:
  *     a header recording the table schema (DDL), partition column and
  *     optional stats column, then one line per live data file —
  *     `(partitionValue, relativePath, min, max)` where min/max are the
  *     stats column's bounds INSIDE that file (the data-skipping index);
  *     the current table state is the highest-numbered manifest;
  *   - COMMIT is one atomic same-directory rename (tmp -> vN.manifest).
  *     Rename fails if vN exists — two concurrent writers race to the
  *     same version number and exactly one wins (optimistic concurrency,
  *     the loser retries on a fresh snapshot). A crash anywhere before
  *     the rename leaves only unreferenced data files: readers still see
  *     the previous snapshot, and `vacuum` reclaims the orphans later.
  *     LakeTableSpec proves both properties by construction (uncommitted
  *     batch invisible; duplicate commit refused).
  *
  * Partition-value encoding: directory names use Spark/Hive's
  * `escapePathName` (NOT URL encoding — '+' is a literal character in
  * path names, and control characters are %-escaped), and a NULL
  * partition value maps to Hive's `__HIVE_DEFAULT_PARTITION__` sentinel
  * in both the directory name and the manifest entry, so null-keyed
  * partitions are read, rewritten and carried exactly like any other
  * value.
  *
  * MERGE (source wins on key, unmatched source rows insert) is the
  * clause merge with one UPDATE-all and one INSERT-all clause; on a
  * `cow` table it is copy-on-write at FILE granularity:
  *
  *   1. matched-file discovery: the probe is manifest-pruned (partition
  *      values, min/max stats and Bloom sidecars rule out files that
  *      cannot hold a source key, so a narrow batch probes O(batch-range)
  *      files, not the table), then one semi-join of the surviving files
  *      against the broadcast source keys names the files holding a
  *      match — a metadata-sized set. Every other file's manifest entry
  *      carries over verbatim (the spec pins unchanged paths). A
  *      partition-moving update still rewrites its OLD file, because the
  *      match lives there;
  *   2. rewrite = one full-outer join of the matched files' rows with the
  *      source, deciding every row's fate (matched rows take the source
  *      values, other rows stay, unmatched source rows insert), written
  *      once and partitioned by partition value — sized by the matched
  *      files and the batch, never the table;
  *   3. commit as above.
  *
  * Schema evolution: a source carrying columns the table lacks widens
  * the table — the commit records the union schema, new files carry the
  * new columns, and files written under an older schema read back with
  * NULL for the added columns (the manifest's schema drives the parquet
  * scan, so no footer merging is needed). Columns shared by name must
  * keep their type.
  *
  * At 100 TB the cost is proportional to the touched files (the
  * usual upsert locality: late-arriving corrections cluster in recent
  * partitions), the manifest is O(files) metadata, and the scheme needs
  * nothing from the filesystem beyond atomic same-dir rename — the same
  * contract HDFS/local give and object-store committers emulate.
  */
/** A lost optimistic-concurrency race: another writer committed the
  * version this statement meant to publish, and the metadata-only rebase
  * could not absorb the difference. The statement's own writes are
  * invisible orphans (vacuum reclaims them); re-running it on the
  * winner's snapshot is always safe — [[LakeTable.retryOnConflict]] does
  * exactly that. A typed failure, the way Delta's optimistic protocol
  * raises typed conflict exceptions, so no caller matches message text.
  */
final class CommitConflict(msg: String) extends RuntimeException(msg)

object LakeTable {

  /** Hive's directory name for a NULL partition value; a literal string
    * partition value equal to this collides (the same caveat Hive, Delta
    * and Iceberg's Hive-style layout all carry).
    */
  val NullPartition: String = ExternalCatalogUtils.DEFAULT_PARTITION_NAME

  /** The outcome of one write. For row-level DML: `matchedPartitions` =
    * distinct partitions among the files the statement touched (rewrote
    * on `cow`, gave a deletion vector on `mor`); `filesRewritten` = those
    * files; `filesProbed` = manifest entries the probe actually scanned
    * after stats pruning (-1 when the operation has no probe, e.g.
    * append/optimize) — the number a scale test pins to prove a narrow
    * merge/delete did NOT read the whole table.
    */
  case class MergeStats(
      version: Long,
      matchedPartitions: Long,
      filesRewritten: Long,
      filesCarried: Long,
      filesWritten: Long,
      filesProbed: Long = -1L)

  /** One live data file: partition value (decoded; NULL → sentinel),
    * path relative to the table root, per-stats-column (min, max)
    * bounds within the file, aligned with the table's `statsCols` order
    * ((None, None) when the column's values in the file are all NULL),
    * the file's row count, and its LENGTH in bytes (both None for
    * entries written before they were recorded — metadata-only COUNT(*)
    * then falls back to a scan, and the connector's FileStatus synthesis
    * falls back to a per-entry getFileStatus). Recording the length is
    * what lets scan planning run with ZERO filesystem calls — the
    * Delta/Iceberg log records size for exactly this reason (on an
    * object store at millions of files, listing — not manifest parsing —
    * is the planning bottleneck).
    * `min`/`max` are the first stats column's bounds — the single-column
    * face most call sites use.
    */
  case class Entry(
      part: String,
      rel: String,
      stats: Seq[(Option[String], Option[String])],
      rows: Option[Long] = None,
      bytes: Option[Long] = None,
      // deletion vector: positions in THIS file whose rows are deleted
      // (merge-on-read — the file itself is untouched; see [[Dv]]).
      // None = every row is live. Min/max stats and Bloom sidecars stay
      // valid over a DV'd file (conservative supersets).
      dv: Option[DvRef] = None,
      // the partition spec this file was written under (index into
      // [[TableMeta.specs]]); 0 on tables that never evolved their
      // partitioning, so pre-evolution manifests parse unchanged
      spec: Int = 0) {
    def min: Option[String] = stats.headOption.flatMap(_._1)
    def max: Option[String] = stats.headOption.flatMap(_._2)
    /** Rows a reader actually sees: recorded count minus DV'd positions
      * (the count metadata-only COUNT(*) and history must report).
      */
    def liveRows: Option[Long] = rows.map(_ - dv.fold(0L)(_.card))
  }

  /** Reference to a deletion-vector sidecar: its rel path under the
    * table root plus the bitmap's cardinality (recorded so metadata-only
    * counts never open the sidecar).
    */
  case class DvRef(rel: String, card: Long)

  /** Table-level metadata carried by every manifest. Multiple stats
    * columns record independent per-file min/max dimensions — with
    * clustered [[optimize]] on the same columns, a range read can skip
    * files on ANY of them from the manifest alone. `bloomCols` opt into
    * per-file Bloom-filter sidecars (`index/<batch>/`) for POINT-lookup
    * file skipping on dimensions min/max cannot prune (unclustered /
    * high-cardinality columns — the Delta/Iceberg bloom-index shape).
    */
  case class TableMeta(
      schema: StructType,
      partitionCol: String,
      statsCols: Seq[String],
      txns: Map[String, Long] = Map.empty,
      bloomCols: Seq[String] = Nil,
      // former names of renamed BLOOM columns (current -> older names,
      // newest first): sidecar rows are keyed by the column name they
      // were written under, so a lookup after RENAME COLUMN must also
      // match rows written under the previous names
      bloomAliases: Map[String, Seq[String]] = Map.empty,
      // field-id high-water mark (Delta's maxColumnId): DROP COLUMN
      // removes a field from the schema but its id must NEVER be reused —
      // a later ADD at a recycled id would read the dropped column's
      // physical data out of old files as the new column. 0 on tables
      // that never dropped (the live schema's max id is then the floor)
      maxFieldId: Long = 0,
      // CHECK constraints (name -> predicate SQL): enforced on every
      // write path (SQL NULL semantics — only FALSE violates); existing
      // data validated when the constraint is added
      checks: Seq[(String, String)] = Nil,
      // row-level delete strategy: "cow" rewrites affected files in
      // place (read-optimized); "mor" records deletion vectors and
      // leaves data files untouched (write-optimized — the Delta DV
      // switch; OPTIMIZE materializes either way)
      deleteMode: String = "cow",
      // HIDDEN PARTITIONING: the partition value is partitionFn applied
      // to partitionCol — "identity" (the value itself), or a transform
      // ("days"/"months"/"hours"/"bucket:N"/"truncate:N", see
      // [[PartitionFn]]). Queries filter the SOURCE column; pruning
      // maps their bounds into transform space.
      partitionFn: String = PartitionFn.Identity,
      // free-form table properties carried in the manifest (one
      // `#prop=` line each): derived-table definitions (materialized
      // views record source/keys/aggs/last-applied-version here), user
      // annotations. Never steers the reader — an old library ignores
      // them and still reads the data correctly.
      props: Map[String, String] = Map.empty,
      // PARTITION SPEC EVOLUTION (the Iceberg per-spec model): every
      // OLDER (col, fn) spec the table has partitioned by, oldest
      // first; (partitionCol, partitionFn) is always the CURRENT spec.
      // An entry's `spec` indexes into priorSpecs :+ current — old
      // files keep pruning under the spec they were written with, new
      // files file under the current one, and compaction migrates.
      priorSpecs: Seq[(String, String)] = Nil,
      // sidecar WRITE KEY per bloom column (absent = the column name).
      // Bloom bits hash the column's INTERNAL value, and xxhash64 of an
      // int differs from xxhash64 of the same number as a long — so
      // ALTER COLUMN TYPE (widening) rekeys the column's sidecar
      // namespace: rows written before the widening simply stop
      // matching (conservative — those files are kept, never wrongly
      // pruned) and post-widening writes key their rows under the new
      // name. Decoupled from the logical name, so a later RENAME keeps
      // the key (and needs no alias) once a column has one.
      bloomKeys: Map[String, String] = Map.empty) {
    def statsCol: Option[String] = statsCols.headOption
    /** The sidecar key new writes record for bloom column `column`. */
    def bloomKeyOf(column: String): String = bloomKeys.getOrElse(column, column)
    /** Every sidecar name a bloom lookup on `column` must match. */
    def bloomNamesFor(column: String): Seq[String] =
      bloomKeyOf(column) +: bloomAliases.getOrElse(column, Nil)
    /** All partition specs, indexed by entry spec id (current last). */
    def specs: Seq[(String, String)] = priorSpecs :+ ((partitionCol, partitionFn))
    /** The spec id new writes record. */
    def currentSpec: Int = priorSpecs.size
  }

  // ---- column mapping (RENAME COLUMN without rewriting data) ---------

  /** Column identity lives in parquet FIELD IDS (the Delta/Iceberg
    * column-mapping shape): every table field carries a stable id in its
    * StructField metadata under this key — Spark's parquet writer stamps
    * it into the files (`spark.sql.parquet.fieldId.write.enabled`, on by
    * default) and the reader matches requested columns BY ID instead of
    * by name when `spark.sql.parquet.fieldId.read.enabled` is set (done
    * in SparkEngine). RENAME COLUMN is then a pure manifest commit: the
    * logical name changes, the id does not, and every already-written
    * file keeps reading. Tables created before ids existed have none —
    * they read by name exactly as before, and RENAME is refused on them.
    */
  private[graft] val FieldIdKey = "parquet.field.id"

  // column DEFAULT metadata (Spark's own keys): CURRENT_DEFAULT fills
  // omitted INSERT columns (analyzer-side, via Table.columns()), and
  // EXISTS_DEFAULT is what files written BEFORE the column existed read
  // for it (frozen at ADD time — the Delta add-column-with-default
  // semantics; Spark's parquet readers apply it to requested-but-absent
  // columns). toDDL drops metadata, so both ride `#default=` manifest
  // header lines and are re-attached at parse.
  private[graft] val CurrentDefaultKey =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns.CURRENT_DEFAULT_COLUMN_METADATA_KEY
  private[graft] val ExistsDefaultKey =
    org.apache.spark.sql.catalyst.util.ResolveDefaultColumns.EXISTS_DEFAULT_COLUMN_METADATA_KEY

  /** Generation-expression metadata (Spark's own key, the one the
    * parser stores for `GENERATED ALWAYS AS (expr)` columns). Spark
    * validates the expression at CREATE (deterministic, built-in
    * functions only, reads only non-generated columns); COMPUTING it is
    * the connector's job — [[writeBatch]] fills the column where the
    * incoming row has NULL and refuses rows whose provided value breaks
    * the `g <=> expr` invariant, and [[update]] recomputes
    * it after SET so a change to a referenced column cannot leave a
    * stale value behind.
    */
  private[graft] val GenExprKey =
    org.apache.spark.sql.catalyst.util.GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY

  private[graft] def generatedOf(schema: StructType): Seq[(String, String)] =
    schema.fields.toSeq.filter(_.metadata.contains(GenExprKey))
      .map(f => f.name -> f.metadata.getString(GenExprKey))

  private[graft] def withGenerated(schema: StructType, gens: Map[String, String]): StructType =
    StructType(schema.fields.map { f =>
      gens.get(f.name).fold(f)(e =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putString(GenExprKey, e).build()))
    })

  /** IDENTITY column metadata (Spark's own keys from `GENERATED ALWAYS /
    * BY DEFAULT AS IDENTITY (START WITH s INCREMENT BY i)`). The engine
    * allocates values at WRITE time: NULL cells in an incoming batch
    * fill from the table's high-water mark plus sparse per-partition
    * offsets (`monotonically_increasing_id` — unique and direction-
    * monotonic across batches, gaps allowed, never a global sort or a
    * driver loop). The mark is the max of a PERSISTED `identity.hw.<c>`
    * table property (advanced atomically with each insert commit, so a
    * DELETE of the highest row can never cause value reuse) and the
    * manifest's per-file stats for the column (covers explicit inserts
    * and legacy tables). `ALWAYS` (allowExplicitInsert = false) refuses
    * user-supplied values at the insert funnels; internal COW/MOR
    * rewrites carry existing values untouched.
    */
  private[graft] val IdStartKey =
    org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_START
  private[graft] val IdStepKey =
    org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_STEP
  private[graft] val IdAllowKey =
    org.apache.spark.sql.catalyst.util.IdentityColumn.IDENTITY_INFO_ALLOW_EXPLICIT_INSERT

  /** (name, start, step, allowExplicitInsert) per identity column. */
  private[graft] def identityOf(schema: StructType): Seq[(String, Long, Long, Boolean)] =
    schema.fields.toSeq.filter(_.metadata.contains(IdStartKey)).map(f =>
      (f.name, f.metadata.getLong(IdStartKey), f.metadata.getLong(IdStepKey),
        f.metadata.getBoolean(IdAllowKey)))

  private[graft] def withIdentity(
      schema: StructType, ids: Map[String, (Long, Long, Boolean)]): StructType =
    StructType(schema.fields.map { f =>
      ids.get(f.name).fold(f) { case (start, step, allow) =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putLong(IdStartKey, start).putLong(IdStepKey, step)
          .putBoolean(IdAllowKey, allow).build())
      }
    })

  /** Defaults, generation expressions and identity specs removed from
    * field metadata — toDDL renders clauses for them that fromDDL cannot
    * parse back, so the `#schema` manifest cell must stay clause-free
    * (the `#default=` / `#generated=` / `#identity=` lines are the
    * single source of truth).
    */
  private def stripDefaults(schema: StructType): StructType =
    StructType(schema.fields.map { f =>
      val keys = Seq(CurrentDefaultKey, ExistsDefaultKey, GenExprKey,
        IdStartKey, IdStepKey, IdAllowKey)
      if (!keys.exists(f.metadata.contains)) f
      else {
        val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        keys.foreach(b.remove)
        f.copy(metadata = b.build())
      }
    })

  private[graft] def withDefaults(
      schema: StructType, defs: Map[String, (String, String)]): StructType =
    StructType(schema.fields.map { f =>
      defs.get(f.name).fold(f) { case (cur, ex) =>
        val b = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata)
          .putString(ExistsDefaultKey, ex)
        // empty current cell = DROP DEFAULT happened; only the frozen
        // exists-default survives
        if (cur.nonEmpty) b.putString(CurrentDefaultKey, cur)
        f.copy(metadata = b.build())
      }
    })

  private[graft] def fieldIdsOf(schema: StructType): Map[String, Long] =
    schema.fields.iterator
      .filter(_.metadata.contains(FieldIdKey))
      .map(f => f.name -> f.metadata.getLong(FieldIdKey))
      .toMap

  private[graft] def withFieldIds(schema: StructType, ids: Map[String, Long]): StructType =
    StructType(schema.fields.map { f =>
      ids.get(f.name).fold(f) { id =>
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, id).build())
      }
    })

  /** The id floor new columns must be assigned above: the live schema's
    * max id OR the recorded high-water mark, whichever is higher (they
    * diverge only after a DROP COLUMN removed the then-highest id).
    */
  private def highWater(meta: TableMeta): Long =
    fieldIdsOf(meta.schema).values.foldLeft(meta.maxFieldId)(math.max)

  /** Normalize NESTED containment nullability to permissive (struct
    * fields, array elements, map values). The engine cannot enforce a
    * nested NOT NULL (no per-field write validation inside containers),
    * and recording one poisons every later [[align]]: parquet reads
    * come back with permissive inner nullability, and ANSI Spark
    * refuses `cast(struct<a> as struct<a NOT NULL>)` — a table whose
    * struct column was created from a non-nullable frame could never be
    * MERGE'd again. Top-level nullability is untouched (scans wrap it
    * via GraftLake.nullable; align never casts on it).
    */
  private def deepPermissive(dt: org.apache.spark.sql.types.DataType)
      : org.apache.spark.sql.types.DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      f.copy(dataType = deepPermissive(f.dataType), nullable = true)))
    case a: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(deepPermissive(a.elementType), containsNull = true)
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(
        deepPermissive(m.keyType), deepPermissive(m.valueType), valueContainsNull = true)
    case o => o
  }

  private[graft] def deepPermissiveSchema(schema: StructType): StructType =
    StructType(schema.fields.map(f => f.copy(dataType = deepPermissive(f.dataType))))

  /** Append `newFields` to the schema, assigning fresh field ids when
    * the table uses column mapping (max(live ids, `floor`) + 1, the
    * Delta convention — `floor` is [[highWater]], so ids of DROPPED
    * columns are never recycled) — the single evolution point shared by
    * append/overwrite/merge widening and ALTER TABLE ADD COLUMNS.
    * Added fields' nested nullability normalizes to permissive (see
    * [[deepPermissiveSchema]]).
    */
  private def extendSchema(
      schema: StructType,
      newFields0: Seq[org.apache.spark.sql.types.StructField],
      floor: Long = 0): StructType = {
    val newFields = newFields0.map(f => f.copy(dataType = deepPermissive(f.dataType)))
    val ids = fieldIdsOf(schema)
    if (ids.isEmpty || newFields.isEmpty) StructType(schema.fields ++ newFields)
    else {
      var next = math.max(ids.values.max, floor)
      StructType(schema.fields ++ newFields.map { f =>
        next += 1
        f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
          .withMetadata(f.metadata).putLong(FieldIdKey, next).build())
      })
    }
  }

  case class Snapshot(version: Long, meta: Option[TableMeta], entries: Seq[Entry])

  private[graft] val PartDirCol = "__part"

  private def fs(spark: SparkSession, p: Path): FileSystem =
    p.getFileSystem(spark.sparkContext.hadoopConfiguration)

  // ---- branch refs ----------------------------------------------------
  //
  // A BRANCH is an independent manifest VERSION LINE over the same data
  // directory (the Iceberg writable-branch shape): branch commits write
  // `_manifests/branches/<name>/v*.manifest` while data/dv/index files
  // land in the shared table directories, so forking is one metadata
  // commit and fast-forward is adopting the branch head's entry list.
  // A branch is addressed as `root#branch=<name>` — every LakeTable op
  // (append, DELETE/UPDATE/MERGE, read, time travel) works on a branch
  // ref unchanged because manifest paths resolve through [[manifestDir]]
  // and data paths through [[dataRoot]].
  private val BranchFrag = "#branch="

  private[graft] def branchRef(root: String, name: String): String = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*"),
      s"LakeTable: branch name must be alphanumeric/_/./-, got '$name'")
    s"${dataRoot(root)}$BranchFrag$name"
  }

  private[graft] def splitRef(root: String): (String, Option[String]) =
    root.indexOf(BranchFrag) match {
      case -1 => (root, None)
      case i => (root.substring(0, i), Some(root.substring(i + BranchFrag.length)))
    }

  /** The DATA root of a (possibly branch-) ref: where `data/`, `dv/`
    * and `index/` live — shared by every branch of the table.
    */
  private[graft] def dataRoot(root: String): String = splitRef(root)._1

  private def manifestDir(root: String): Path = splitRef(root) match {
    case (r, None) => new Path(r, "_manifests")
    case (r, Some(b)) => new Path(r, s"_manifests/branches/$b")
  }

  // ---- manifest (de)serialization -----------------------------------

  private def esc(s: String): String = ExternalCatalogUtils.escapePathName(s)
  private def unesc(s: String): String = ExternalCatalogUtils.unescapePathName(s)
  // Option cells: "_" = None, "=" + escaped = Some (escaping covers tabs
  // and newlines, so any string value round-trips through the TSV line)
  private def encOpt(o: Option[String]): String = o.fold("_")(v => "=" + esc(v))
  private def decOpt(s: String): Option[String] =
    if (s == "_") None else Some(unesc(s.stripPrefix("=")))

  /** The manifest FORMAT version this reader understands (the Delta
    * minReaderVersion pattern): every manifest opens with `#format=N`,
    * old parsers ignore unknown header keys, and a future incompatible
    * change bumps N so an old reader fails with a NAMED version-gate
    * error instead of an opaque parse crash (the r14→r15 rows:bytes
    * cell change taught this lesson — an r14 parser threw
    * NumberFormatException on the ':').
    *
    * Format 2 = SEGMENTED manifests (the Iceberg manifest-list shape):
    * the body may carry `@seg=<rel>:<count>` references to immutable
    * entry-segment files under `_manifests/segments/` instead of (or
    * alongside) inline entry lines. Writers emit format 1 whenever the
    * manifest is fully inline, so small tables stay readable by older
    * parsers; only actually-segmented manifests claim 2.
    *
    * Format 3 = DELETION VECTORS: entry lines may carry a 4-cell
    * trailing cell `rows:bytes:dvCard:dvRel` referencing a [[Dv]]
    * sidecar (a format-2 parser would toLong-crash on the extra cells,
    * so any manifest with a DV'd entry claims 3). Writers claim the
    * LOWEST format the manifest actually needs, so tables that never
    * MOR-delete stay readable by older parsers.
    *
    * Format 4 = PARTITION SPEC EVOLUTION: `#priorSpec=<col>:<fn>`
    * header lines (oldest first) record every former partitioning, and
    * entry lines written under a non-zero spec extend the trailing
    * cell to 5 parts `rows:bytes:dvCard:dvRel:spec` (dv cells `_` when
    * absent). A format-3 reader interpreting old entries under the new
    * spec would prune and classify them WRONGLY, so any evolved table
    * claims 4 and older readers refuse crisply.
    *
    * Format 5 = TYPE WIDENING with rekeyed bloom sidecars:
    * `#bloomKey=<col>:<key>` header lines record the sidecar write key
    * of bloom columns whose type was widened by ALTER COLUMN TYPE
    * (bloom bits hash the internal value, so pre-widening sidecars are
    * invalid for the new type). A format-4 reader ignoring the key
    * would probe the STALE sidecars under the bare column name and
    * wrongly prune files, so any rekeyed table claims 5.
    *
    * Local-filesystem manifests and segments carry no Hadoop `.crc`
    * ([[writeSmallFile]]): corruption is caught by the parse, not a checksum.
    */
  private[graft] val ManifestFormat = 5

  /** Entry count above which [[commit]] switches a table from one
    * inline manifest to segment references. Below it, a commit rewrites
    * the (small) full entry list — simple and single-file. Above it,
    * a commit writes ONE new segment for the changed/new entries and
    * carries every intact previous segment BY REFERENCE: commit I/O is
    * O(batch + broken segments), not O(table files) — the property that
    * keeps a 100 TB / 1M-file table's commit cost flat as it grows.
    * `private[graft] var` so specs can exercise segmentation at toy
    * sizes.
    */
  private[graft] var SegmentThreshold: Int = 4096

  /** Segment-count ceiling: a commit that would carry this many refs
    * folds everything into one fresh segment instead (the amortized
    * manifest-compaction Iceberg runs as rewrite-manifests), bounding
    * planning at O(MaxSegments) segment reads.
    */
  private[graft] var MaxSegments: Int = 64

  /** A by-reference segment: `rel` under `_manifests/`, plus the entry
    * count recorded at write time (a resolution-time integrity check —
    * a truncated segment fails crisply, not as silent data loss).
    */
  private[graft] case class SegRef(rel: String, count: Long)

  /** A parsed manifest BEFORE segment resolution. */
  private[graft] case class ManifestDoc(
      meta: TableMeta, inline: Seq[Entry], segRefs: Seq[SegRef])

  private[graft] def renderManifest(
      meta: TableMeta,
      entries: Seq[Entry],
      commitTimeMs: Option[Long] = None,
      segRefs: Seq[SegRef] = Nil,
      // a referenced SEGMENT may hold DV'd entries this render cannot
      // see — the committer passes what it knows about the full list
      segsHaveDv: Boolean = false): String = {
    val fmt =
      if (meta.bloomKeys.nonEmpty) 5
      else if (meta.priorSpecs.nonEmpty) 4
      else if (segsHaveDv || entries.exists(_.dv.isDefined) ||
        meta.partitionFn != PartitionFn.Identity) 3
      else if (segRefs.nonEmpty) 2
      else 1
    val header = Seq(
      // claim the LOWEST format the manifest needs: fully-inline,
      // DV-free manifests stay readable by pre-segment parsers
      s"#format=$fmt",
      s"#schema=${stripDefaults(meta.schema).toDDL}",
      s"#partitionCol=${meta.partitionCol}") ++
      // recorded commit time (TIMESTAMP AS OF resolves against this, not
      // the file mtime — mtimes do not survive copies/restores/object
      // stores; legacy manifests without the line fall back to mtime)
      commitTimeMs.map(t => s"#commitTime=$t").toSeq ++
      // esc() covers tabs/newlines but NOT the ',' this list is joined
      // on — percent-encode it explicitly ('%' itself is esc'd to %25,
      // so "%2C" can only ever mean an encoded comma; unesc() decodes
      // both in one pass, so the parse side needs no special case)
      (if (meta.statsCols.nonEmpty)
         Seq(s"#statsCols=${meta.statsCols.map(c => esc(c).replace(",", "%2C")).mkString(",")}")
       else Nil) ++
      (if (meta.bloomCols.nonEmpty)
         Seq(s"#bloomCols=${meta.bloomCols.map(c => esc(c).replace(",", "%2C")).mkString(",")}")
       else Nil) ++
      // column-mapping ids (toDDL drops StructField metadata, so the ids
      // are carried as their own header line and re-attached at parse)
      (if (fieldIdsOf(meta.schema).nonEmpty)
         Seq(s"#fieldIds=${fieldIdsOf(meta.schema).toSeq.sortBy(_._2)
           .map { case (n, id) => s"${esc(n).replace(",", "%2C")}:$id" }.mkString(",")}")
       else Nil) ++
      // id high-water mark, recorded once it exceeds the live max (i.e.
      // after a DROP COLUMN) so dropped ids stay retired forever
      (if (meta.maxFieldId > 0) Seq(s"#maxFieldId=${meta.maxFieldId}") else Nil) ++
      // non-default delete strategy only (absent = cow, the format-1
      // reading); an old reader ignores the unknown key and still reads
      // the table correctly — the mode only steers WRITERS
      (if (meta.deleteMode != "cow") Seq(s"#deleteMode=${meta.deleteMode}") else Nil) ++
      // non-identity partition transform (absent = identity). A writer
      // that ignored this key would file rows under identity values and
      // silently break transform-space pruning — so transform tables
      // claim format 3 (above): an older library refuses them crisply
      // instead of corrupting partition space.
      (if (meta.partitionFn != PartitionFn.Identity)
         Seq(s"#partitionFn=${meta.partitionFn}") else Nil) ++
      // former partition specs, oldest first (format 4): entry spec ids
      // index priorSpecs :+ (partitionCol, partitionFn)
      meta.priorSpecs.map { case (c, fn) =>
        s"#priorSpec=${esc(c).replace(":", "%3A")}:${esc(fn)}"
      } ++
      // column defaults, one line per defaulted column: name, INSERT-time
      // default SQL, exists-default SQL (all cells ':'-encoded so the
      // 3-way split is unambiguous)
      meta.schema.fields.filter(f => f.metadata.contains(CurrentDefaultKey) ||
        f.metadata.contains(ExistsDefaultKey)).toSeq.map { f =>
        def cell(v: String) = esc(v).replace(":", "%3A")
        // an EMPTY current cell = no current default (DROP DEFAULT leaves
        // only the frozen exists-default; a real default is SQL text like
        // `''`, never the empty string)
        val cur =
          if (f.metadata.contains(CurrentDefaultKey)) f.metadata.getString(CurrentDefaultKey)
          else ""
        val ex =
          if (f.metadata.contains(ExistsDefaultKey)) f.metadata.getString(ExistsDefaultKey)
          else cur
        s"#default=${cell(f.name)}:${cell(cur)}:${cell(ex)}"
      } ++
      // generation expressions, one line per GENERATED ALWAYS AS column
      generatedOf(meta.schema).map { case (n, e) =>
        s"#generated=${esc(n).replace(":", "%3A")}:${esc(e)}"
      } ++
      // identity specs, one line per IDENTITY column
      identityOf(meta.schema).map { case (n, start, step, allow) =>
        s"#identity=${esc(n).replace(":", "%3A")}:$start:$step:$allow"
      } ++
      // former sidecar names of renamed bloom columns (one line per
      // current name, aliases newest-first)
      meta.bloomAliases.toSeq.sortBy(_._1).map { case (cur, olds) =>
        s"#bloomAlias=${(cur +: olds).map(n => esc(n).replace(",", "%2C")).mkString(",")}"
      } ++
      // sidecar write keys of type-widened bloom columns (format 5)
      meta.bloomKeys.toSeq.sortBy(_._1).map { case (c, k) =>
        s"#bloomKey=${esc(c).replace(":", "%3A")}:${esc(k)}"
      } ++
      // CHECK constraints, one line per name (the ':' in the NAME cell
      // is encoded, so the first ':' always splits name from SQL)
      meta.checks.map { case (n, sql) =>
        s"#check=${esc(n).replace(":", "%3A")}:${esc(sql)}"
      } ++
      // transactional-writer watermarks (idempotent appends): the highest
      // txnVersion committed per appId, carried forward by every commit
      meta.txns.toSeq.sortBy(_._1).map { case (app, v) => s"#txn=${esc(app)}:$v" } ++
      // free-form properties, one line per key (':' in the NAME cell is
      // encoded, so the first ':' always splits name from value)
      meta.props.toSeq.sortBy(_._1).map { case (k, v) =>
        s"#prop=${esc(k).replace(":", "%3A")}:${esc(v)}"
      }
    val refLines = segRefs.map(r => s"@seg=${esc(r.rel)}:${r.count}")
    (header ++ refLines ++ entries.map(renderEntryLine)).mkString("\n")
  }

  // stats cells always come in (min, max) PAIRS, so the optional
  // trailing cell is identified by parity alone. Compatibility is
  // ONE-directional: THIS parser reads every older manifest form
  // (no cell, bare `<rows>`) — an older parser reading a NEW
  // manifest is not supported (a rows-aware r14 reader would choke
  // on the ':'), which only matters to mixed-version deployments.
  // The trailing cell is `<rows>`, `<rows>:<bytes>`, or `_:<bytes>`
  // (rows unknown, length known — the length must not be dropped, or
  // a re-rendered manifest would silently lose the zero-fs-call
  // planning guarantee for that entry); ':' and '_' cannot appear in
  // a long, so the parity trick keeps working and pre-bytes
  // manifests parse as bytes=None.
  // The part cell additionally percent-encodes a leading '@' ('%' is
  // esc'd to %25, so "%40" can only mean an encoded '@'; unesc decodes
  // it) — a partition value could otherwise render a line masquerading
  // as an `@seg=` reference
  private def renderEntryLine(e: Entry): String = {
    val cell =
      if (e.spec != 0)
        // 5-cell form (format 4): rows, bytes, dv card, dv rel (each
        // "_" when absent) and the entry's partition spec id at fixed
        // positions — spec-0 entries keep the shorter forms, so a
        // never-evolved table's manifests are byte-identical to before
        Seq(e.rows.fold("_")(_.toString) + ":" + e.bytes.fold("_")(_.toString) +
          ":" + e.dv.fold("_")(_.card.toString) +
          ":" + e.dv.fold("_")(d => esc(d.rel).replace(":", "%3A")) +
          s":${e.spec}")
      else e.dv match {
        case Some(d) =>
          // 4-cell form (format 3): rows and bytes render explicitly ("_"
          // when unknown) so the dv cells always sit at fixed positions;
          // ':' in the dv rel percent-encodes so the 4-way split is
          // unambiguous (unesc decodes %3A back)
          Seq(e.rows.fold("_")(_.toString) + ":" + e.bytes.fold("_")(_.toString) +
            s":${d.card}:${esc(d.rel).replace(":", "%3A")}")
        case None =>
          if (e.rows.isEmpty && e.bytes.isEmpty) Nil
          else Seq(e.rows.fold("_")(_.toString) + e.bytes.fold("")(b => s":$b"))
      }
    val cells = e.stats.flatMap { case (mn, mx) => Seq(encOpt(mn), encOpt(mx)) } ++ cell
    val part = esc(e.part)
    val safePart = if (part.startsWith("@")) "%40" + part.tail else part
    (Seq(safePart, e.rel) ++ cells).mkString("\t")
  }

  private def parseEntryLine(line: String): Entry = {
    val cells = line.split("\t", -1)
    val tail = cells.drop(2)
    val (rows, bytes, dv, spec) =
      if (tail.length % 2 == 1) {
        val parts = tail.last.split(":", 5)
        val r = if (parts(0) == "_") None else Some(parts(0).toLong)
        val b =
          if (parts.length < 2 || parts(1) == "_" || parts(1).isEmpty) None
          else Some(parts(1).toLong)
        val d =
          if (parts.length >= 4 && parts(2) != "_")
            Some(DvRef(unesc(parts(3)), parts(2).toLong))
          else None
        val sp = if (parts.length == 5) parts(4).toInt else 0
        (r, b, d, sp)
      } else (None, None, None, 0)
    val stats = tail.take(tail.length - (tail.length % 2)).grouped(2).collect {
      case Array(mn, mx) => (decOpt(mn), decOpt(mx))
    }.toSeq
    Entry(unesc(cells(0)), cells(1), stats, rows, bytes, dv, spec)
  }

  /** Parse the pure-inline view of a manifest — refuses segmented
    * manifests (those need [[readManifest]]'s filesystem access to
    * resolve `@seg=` references).
    */
  private[graft] def parseManifest(text: String): (TableMeta, Seq[Entry]) = {
    val d = parseManifestDoc(text)
    require(d.segRefs.isEmpty,
      "parseManifest: segmented manifest — use readManifest to resolve @seg references")
    (d.meta, d.inline)
  }

  private[graft] def parseManifestDoc(text: String): ManifestDoc = {
    val lines = text.split("\n").iterator.filter(_.nonEmpty).toSeq
    val (header, rest0) = lines.partition(_.startsWith("#"))
    val (segLines, body) = rest0.partition(_.startsWith("@seg="))
    // #txn= / #bloomAlias= repeat (one line per key) — keep them out of
    // the unique-key map
    val (txnLines, rest1) = header.partition(_.startsWith("#txn="))
    val (checkLines, rest2) = rest1.partition(_.startsWith("#check="))
    val (defaultLines, rest3) = rest2.partition(_.startsWith("#default="))
    val (propLines, rest4) = rest3.partition(_.startsWith("#prop="))
    val (genLines, rest5) = rest4.partition(_.startsWith("#generated="))
    val (idLines, rest6) = rest5.partition(_.startsWith("#identity="))
    val (priorSpecLines, rest7) = rest6.partition(_.startsWith("#priorSpec="))
    val (bloomKeyLines, rest) = rest7.partition(_.startsWith("#bloomKey="))
    val (aliasLines, kvLines) = rest.partition(_.startsWith("#bloomAlias="))
    val kv = kvLines.map { h =>
      val Array(k, v) = h.stripPrefix("#").split("=", 2)
      k -> v
    }.toMap
    // version gate: a manifest written by a FUTURE incompatible format
    // fails with a named error, not a parse crash (absent = format 1,
    // covering every manifest written before the header existed)
    val fmt = kv.get("format").map(_.toInt).getOrElse(1)
    require(fmt <= ManifestFormat,
      s"graft-lake: manifest format $fmt is newer than this reader " +
        s"(supports <= $ManifestFormat) — upgrade the library to read this table")
    val txns = txnLines.map { l =>
      val s = l.stripPrefix("#txn=")
      val i = s.lastIndexOf(':')
      unesc(s.take(i)) -> s.drop(i + 1).toLong
    }.toMap
    // `#statsCol=` (singular) accepted for manifests written before the
    // multi-column format
    val statsCols = kv.get("statsCols").map(_.split(",").toSeq.map(unesc))
      .orElse(kv.get("statsCol").map(Seq(_)))
      .getOrElse(Nil)
    val fieldIds: Map[String, Long] = kv.get("fieldIds")
      .map(_.split(",").toSeq.map { cell =>
        val i = cell.lastIndexOf(':')
        unesc(cell.take(i)) -> cell.drop(i + 1).toLong
      }.toMap)
      .getOrElse(Map.empty)
    val bloomAliases: Map[String, Seq[String]] = aliasLines.map { l =>
      val names = l.stripPrefix("#bloomAlias=").split(",").toSeq.map(unesc)
      names.head -> names.tail
    }.toMap
    val checks = checkLines.map { l =>
      val s = l.stripPrefix("#check=")
      val i = s.indexOf(':')
      unesc(s.take(i)) -> unesc(s.drop(i + 1))
    }
    val defaults: Map[String, (String, String)] = defaultLines.map { l =>
      val Array(n, cur, ex) = l.stripPrefix("#default=").split(":", 3)
      unesc(n) -> (unesc(cur), unesc(ex))
    }.toMap
    val gens: Map[String, String] = genLines.map { l =>
      val s = l.stripPrefix("#generated=")
      val i = s.indexOf(':')
      unesc(s.take(i)) -> unesc(s.drop(i + 1))
    }.toMap
    val idents: Map[String, (Long, Long, Boolean)] = idLines.map { l =>
      val Array(n, start, step, allow) = l.stripPrefix("#identity=").split(":", 4)
      unesc(n) -> ((start.toLong, step.toLong, allow.toBoolean))
    }.toMap
    val meta = TableMeta(
      withIdentity(
        withGenerated(
          withDefaults(withFieldIds(StructType.fromDDL(kv("schema")), fieldIds), defaults),
          gens),
        idents),
      kv("partitionCol"),
      statsCols,
      txns,
      kv.get("bloomCols").map(_.split(",").toSeq.map(unesc)).getOrElse(Nil),
      bloomAliases,
      kv.get("maxFieldId").map(_.toLong).getOrElse(0L),
      checks,
      kv.getOrElse("deleteMode", "cow"),
      kv.getOrElse("partitionFn", PartitionFn.Identity),
      propLines.map { l =>
        val s = l.stripPrefix("#prop=")
        val i = s.indexOf(':')
        unesc(s.take(i)) -> unesc(s.drop(i + 1))
      }.toMap,
      priorSpecLines.map { l =>
        val s = l.stripPrefix("#priorSpec=")
        val i = s.indexOf(':')
        (unesc(s.take(i)), unesc(s.drop(i + 1)))
      },
      bloomKeyLines.map { l =>
        val s = l.stripPrefix("#bloomKey=")
        val i = s.indexOf(':')
        unesc(s.take(i)) -> unesc(s.drop(i + 1))
      }.toMap)
    val segRefs = segLines.map { l =>
      val s = l.stripPrefix("@seg=")
      val i = s.lastIndexOf(':')
      SegRef(unesc(s.take(i)), s.drop(i + 1).toLong)
    }
    ManifestDoc(meta, body.map(parseEntryLine), segRefs)
  }

  // ---- segment files (format 2: by-reference manifest bodies) --------

  /** Resolved segments, cached JVM-wide by absolute path — segments are
    * IMMUTABLE once referenced (a commit writes a fresh uuid-named file,
    * never rewrites one), so a hit can never be stale. Bounded LRU: at
    * the 4096-entry default threshold, 128 segments ≈ half a million
    * entries resident at ~100 bytes each.
    */
  private val segmentCache: java.util.Map[String, Seq[Entry]] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Seq[Entry]](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Seq[Entry]]): Boolean = size > 128
      })

  private def loadSegment(spark: SparkSession, root: String, ref: SegRef): Seq[Entry] = {
    val p = new Path(manifestDir(root), ref.rel)
    val key = p.toString
    val cached = segmentCache.get(key)
    if (cached != null) cached
    else {
      val f = fs(spark, p)
      val in =
        try f.open(p)
        catch {
          case _: java.io.FileNotFoundException => throw new IllegalArgumentException(
            s"graft-lake: manifest segment ${ref.rel} under $root is missing — the " +
              "version referencing it has been vacuumed (time travel is limited to " +
              "the vacuum retention window)")
        }
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val es = text.split("\n").iterator.filter(_.nonEmpty).map(parseEntryLine).toSeq
      require(es.size == ref.count,
        s"graft-lake: segment ${ref.rel} resolves to ${es.size} entries but the " +
          s"manifest recorded ${ref.count} — corrupt or truncated segment")
      segmentLoads.incrementAndGet()
      segmentCache.put(key, es)
      es
    }
  }

  private def writeSegment(spark: SparkSession, root: String, es: Seq[Entry]): SegRef = {
    val rel = s"segments/seg-${java.util.UUID.randomUUID().toString.take(12)}.seg"
    val p = new Path(manifestDir(root), rel)
    val f = fs(spark, p)
    writeSmallFile(f, p, es.map(renderEntryLine).mkString("\n").getBytes("UTF-8"))
    segmentCache.put(p.toString, es)
    SegRef(rel, es.size)
  }

  /** Write a small metadata file (manifest, segment). On the local
    * scheme java.nio writes it with `CREATE_NEW`, so the existence check
    * and the create are one atomic step (Hadoop's `create(p, false)`
    * checks, then opens), and no `.crc` shadow file is written: one file
    * per metadata write instead of two. Readers through the Hadoop FS are
    * unaffected (a missing `.crc` simply skips verification). Non-local
    * schemes keep the FileSystem route. Fails if the file already exists.
    */
  private def writeSmallFile(f: FileSystem, p: Path, bytes: Array[Byte]): Unit =
    if (Option(f.getUri.getScheme).getOrElse("file") == "file") {
      val nio = java.nio.file.Paths.get(f.makeQualified(p).toUri)
      java.nio.file.Files.createDirectories(nio.getParent)
      java.nio.file.Files.write(nio, bytes,
        java.nio.file.StandardOpenOption.CREATE_NEW,
        java.nio.file.StandardOpenOption.WRITE)
      ()
    } else {
      f.mkdirs(p.getParent)
      val out = f.create(p, false)
      try out.write(bytes) finally out.close()
    }

  /** Parsed manifest documents, cached JVM-wide. A published
    * `vN.manifest` is immutable (publishAtomic never overwrites an
    * existing destination), but table ROOTS are reused within one JVM —
    * DROP + re-CREATE, test harnesses staging under the same dir — so
    * the key carries the file's (mtime, length) alongside its absolute
    * path: a re-created table at the same path misses instead of
    * returning the dropped table's metadata. Bounded LRU: 256 docs; the
    * per-doc entry body is mostly `@seg=` references (resolved through
    * [[segmentCache]]), so residency is headers + inline tails.
    */
  private val docCache: java.util.Map[String, ManifestDoc] =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, ManifestDoc](16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, ManifestDoc]): Boolean = size > 256
      })

  /** Total full-manifest parses / segment loads since JVM start (cache
    * misses only) — observability for the per-statement metadata cost:
    * on a warm cache a read statement should parse ZERO manifests and a
    * DML statement exactly the versions it commits (O(1) per
    * statement, never O(history)). LakeProbe's metadata-cost arm and
    * LakeTableSpec pin the deltas.
    */
  private[graft] val manifestParses = new java.util.concurrent.atomic.AtomicLong(0L)
  private[graft] val segmentLoads = new java.util.concurrent.atomic.AtomicLong(0L)

  private def readDoc(spark: SparkSession, root: String, v: Long): ManifestDoc = {
    val mf = new Path(manifestDir(root), s"v$v.manifest")
    val f = fs(spark, mf)
    val st = f.getFileStatus(mf) // FileNotFoundException here, same as open()
    val key = s"${f.makeQualified(mf)}|${st.getModificationTime}|${st.getLen}"
    val cached = docCache.get(key)
    if (cached != null) cached
    else {
      val in = f.open(mf)
      val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString finally in.close()
      val doc = parseManifestDoc(text)
      manifestParses.incrementAndGet()
      docCache.put(key, doc)
      doc
    }
  }

  private[graft] def readManifest(spark: SparkSession, root: String, v: Long): (TableMeta, Seq[Entry]) = {
    val doc = readDoc(spark, root, v)
    (doc.meta, doc.segRefs.flatMap(loadSegment(spark, root, _)) ++ doc.inline)
  }

  /** Recorded commit time of version `v` (epoch millis), from the
    * manifest's `#commitTime` header — None for manifests written
    * before the header existed (callers fall back to file mtime).
    * Reads only the header lines, not the entry body.
    */
  private[graft] def commitTimeOf(spark: SparkSession, root: String, v: Long): Option[Long] = {
    val mf = new Path(manifestDir(root), s"v$v.manifest")
    val f = fs(spark, mf)
    val in = f.open(mf)
    try {
      val rd = new java.io.BufferedReader(new java.io.InputStreamReader(in, "UTF-8"))
      Iterator.continually(rd.readLine())
        .takeWhile(l => l != null && l.startsWith("#"))
        .collectFirst { case l if l.startsWith("#commitTime=") =>
          l.stripPrefix("#commitTime=").toLong
        }
    } finally in.close()
  }

  /** The current committed snapshot; version 0 = table does not exist. */
  def snapshot(spark: SparkSession, root: String): Snapshot = {
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    if (!f.exists(dir)) return Snapshot(0L, None, Nil)
    val versions = f.listStatus(dir).map(_.getPath.getName)
      .filter(n => n.startsWith("v") && n.endsWith(".manifest"))
      .map(n => n.stripPrefix("v").stripSuffix(".manifest").toLong)
    if (versions.isEmpty) return Snapshot(0L, None, Nil)
    val v = versions.max
    val (meta, entries) = readManifest(spark, root, v)
    Snapshot(v, Some(meta), entries)
  }

  /** Atomic same-directory PUBLISH of `tmp` as `dst`: succeeds iff the
    * destination did not exist — exactly one of N racing publishers
    * wins, which is the whole optimistic-concurrency contract.
    *
    * On HDFS (and stores emulating its contract) `rename` provides this
    * natively: it is atomic server-side and fails when the destination
    * exists. The LOCAL filesystem does NOT — its no-overwrite check is
    * check-then-act above POSIX rename(2), so two writers racing the
    * same version can BOTH "succeed" and the second silently OVERWRITES
    * the first's manifest: a lost commit with no error anywhere (caught
    * live as the round-15 spec flake — 4 concurrent writers, zero
    * errors, 3 surviving versions). On `file:` schemes we therefore
    * publish via hard LINK: link(2) fails atomically with EEXIST when
    * the destination exists, closing the race at the syscall level. The
    * local checksum shadow (`.name.crc`) is linked best-effort too so
    * reads keep verification.
    */
  private def publishAtomic(
      f: FileSystem,
      tmp: Path,
      dst: Path): Boolean = {
    val scheme = Option(f.getUri.getScheme).getOrElse("file")
    if (scheme == "file") {
      import java.nio.file.{Files, Paths}
      val t = Paths.get(f.makeQualified(tmp).toUri)
      val d = Paths.get(f.makeQualified(dst).toUri)
      // None = this filesystem cannot hard-link (FAT/exFAT, some
      // overlay/network mounts) — fall back to the rename path below,
      // accepting its weaker check-then-act no-overwrite check there
      // rather than crashing every commit
      val linked: Option[Boolean] =
        try { Files.createLink(d, t); Some(true) }
        catch {
          case _: java.nio.file.FileAlreadyExistsException => Some(false)
          case _: UnsupportedOperationException => None
          case _: java.nio.file.FileSystemException => None
        }
      linked match {
        case Some(won) =>
          if (won) {
            val tCrc = t.resolveSibling(s".${t.getFileName}.crc")
            val dCrc = d.resolveSibling(s".${d.getFileName}.crc")
            if (Files.exists(tCrc))
              try Files.createLink(dCrc, tCrc)
              catch { case _: java.nio.file.FileAlreadyExistsException => () }
          }
          f.delete(tmp, false) // removes the crc shadow as well
          won
        case None =>
          val ok = !f.exists(dst) && f.rename(tmp, dst)
          if (!ok) f.delete(tmp, false)
          ok
      }
    } else {
      val ok = f.rename(tmp, dst)
      if (!ok) f.delete(tmp, false)
      ok
    }
  }

  /** Atomically commit `entries` as version `v` (must be prev + 1).
    * Returns false if some other writer committed `v` first.
    * (`private[graft]` so LakeTableSpec can race two commits directly.)
    *
    * Past [[SegmentThreshold]] entries the manifest goes SEGMENTED:
    * previous segments whose entry sets carry UNCHANGED into this
    * commit are re-referenced verbatim (zero I/O for them), and only
    * the changed/new entries are written — as one fresh immutable
    * segment file — so commit I/O is O(batch + broken segments)
    * instead of O(table files). A segment any of whose entries was
    * removed or modified (COW delete/merge, OPTIMIZE, stats remap) is
    * "broken": its survivors migrate into the new segment and the old
    * file is left for vacuum. When refs would exceed [[MaxSegments]],
    * the commit folds everything into one segment (amortized manifest
    * compaction). Segments are written BEFORE the manifest publish —
    * a losing racer's segment is an invisible orphan, reclaimed like
    * an orphaned data batch.
    */
  private[graft] def commit(
      spark: SparkSession,
      root: String,
      v: Long,
      meta: TableMeta,
      entries: Seq[Entry]): Boolean = {
    val dir = manifestDir(root)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val prevRefs: Seq[SegRef] =
      if (v <= 1) Nil
      else try readDoc(spark, root, v - 1).segRefs
      catch { case _: Exception => Nil } // unreadable prev: self-contained fallback
    val text =
      if (prevRefs.isEmpty && entries.size <= SegmentThreshold)
        renderManifest(meta, entries, Some(System.currentTimeMillis()))
      else {
        // the diff is one in-memory hash pass over the entry list —
        // pre-sized java maps and an `eq` fast path (callers build
        // `entries` from snapshot(), whose segment entries come out of
        // the cache, so unchanged entries are usually the SAME object)
        // keep it ~1 s at 1M entries; the I/O saved is the whole point:
        // a 110 MiB manifest rewrite becomes one O(batch) segment file
        val byRel = new java.util.HashMap[String, Entry](entries.size * 2)
        entries.foreach(e => byRel.put(e.rel, e))
        val intact = prevRefs.filter { r =>
          val it = loadSegment(spark, root, r).iterator
          var ok = true
          while (ok && it.hasNext) {
            val e = it.next(); val m = byRel.get(e.rel)
            ok = (m != null) && ((m eq e) || m == e)
          }
          ok
        }
        val carried = if (intact.size >= MaxSegments) Nil else intact
        val carriedRels = new java.util.HashSet[String](entries.size * 2)
        carried.foreach(r => loadSegment(spark, root, r).foreach(e => carriedRels.add(e.rel)))
        val rest = entries.filterNot(e => carriedRels.contains(e.rel))
        val refs = carried ++
          (if (rest.nonEmpty) Seq(writeSegment(spark, root, rest)) else Nil)
        val anyDv = entries.exists(_.dv.isDefined)
        if (refs.isEmpty) renderManifest(meta, Nil, Some(System.currentTimeMillis()))
        else renderManifest(meta, Nil, Some(System.currentTimeMillis()), refs, segsHaveDv = anyDv)
      }
    val tmp = new Path(dir, s".tmp-v$v-${java.util.UUID.randomUUID()}")
    writeSmallFile(f, tmp, text.getBytes("UTF-8"))
    publishAtomic(f, tmp, new Path(dir, s"v$v.manifest"))
  }

  /** Run `attempt` until it lands. A [[CommitConflict]] — a lost race
    * the rebase could not absorb — re-runs the whole attempt, which
    * re-reads the snapshot and so recomputes against the winner's rows,
    * up to `maxRetries` more times; then the last conflict is rethrown.
    * Any other failure propagates at once. The bound keeps a livelocked
    * writer from spinning forever under contention.
    */
  @annotation.tailrec
  def retryOnConflict[A](maxRetries: Int)(attempt: => A): A = {
    val landed = try Some(attempt) catch { case _: CommitConflict if maxRetries > 0 => None }
    landed match {
      case Some(a) => a
      case None => retryOnConflict(maxRetries - 1)(attempt)
    }
  }

  /** [[commit]] version `v`, or throw the [[CommitConflict]] that
    * [[retryOnConflict]] retries. Returns `v`.
    */
  private def commitOrConflict(
      spark: SparkSession,
      root: String,
      verb: String,
      v: Long,
      meta: TableMeta,
      entries: Seq[Entry]): Long =
    if (commit(spark, root, v, meta, entries)) v
    else throw new CommitConflict(
      s"LakeTable.$verb: concurrent commit at $root (retries exhausted)")

  // ---- write path ----------------------------------------------------

  /** Persist `df` for the duration of one statement UNLESS the caller
    * already persisted it: Spark caching is not reference-counted, so
    * unpersisting a shared frame in our `finally` would silently evict
    * the caller's cache. Returns the frame plus the matching release.
    */
  private def persistForStatement(df: DataFrame): (DataFrame, () => Unit) =
    if (df.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
      (df, () => ())
    else {
      val p = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      (p, () => { p.unpersist(); () })
    }

  /** The partition value as manifest entries record it: the column cast
    * to string with NULL mapped to the Hive sentinel — the same value the
    * directory listing yields for that row's file.
    */
  private def partExpr(meta: TableMeta): Column =
    coalesce(
      PartitionFn.column(meta.partitionFn, col(meta.partitionCol),
        meta.schema(meta.partitionCol).dataType),
      lit(NullPartition))

  /** Recompute GENERATED columns over a post-SET frame: an UPDATE that
    * changed a referenced column must not leave the stale generated
    * value behind (it would then fail [[writeBatch]]'s invariant check).
    * Runs AFTER the SET projection, so the expression reads the NEW
    * values; rows the update missed recompute to their existing value
    * (a no-op). A generated column the user SET explicitly is left for
    * the invariant check to validate.
    */
  private def regenerate(df: DataFrame, meta: TableMeta, explicit: Set[String]): DataFrame =
    generatedOf(meta.schema).filterNot { case (g, _) => explicit.contains(g) }
      .foldLeft(df) { case (d, (g, e)) =>
        d.withColumn(g,
          org.apache.spark.sql.functions.expr(e).cast(meta.schema(g).dataType))
      }

  /** Enforce the table's CHECK constraints on rows about to be written
    * (SQL semantics: NULL passes, only FALSE violates). One short-
    * circuiting existence probe per constraint, run only when
    * constraints exist — a violation refuses the whole write BEFORE
    * anything commits, the Delta invariant-enforcement contract.
    */
  private[graft] def requireChecks(
      spark: SparkSession,
      df: DataFrame,
      meta: TableMeta,
      op: String): Unit = {
    def viol(sql: String): Column =
      !coalesce(org.apache.spark.sql.functions.expr(sql), lit(true))
    def failFirst(): Nothing = {
      meta.checks.foreach { case (n, sql) =>
        if (!df.where(viol(sql)).isEmpty) throw new IllegalArgumentException(
          s"graft-lake $op: rows violate CHECK constraint $n ($sql) — nothing committed")
      }
      throw new IllegalStateException(
        s"graft-lake $op: fused constraint probe flagged a violation no single " +
          "constraint reproduces (non-deterministic CHECK expression?)")
    }
    // ONE existence probe for all constraints (the happy path); only a
    // violation pays the per-constraint re-probes that name the culprit
    if (meta.checks.nonEmpty &&
      !df.where(meta.checks.map(c => viol(c._2)).reduce(_ || _)).isEmpty) failFirst()
  }

  /** Write `df` as a new immutable batch, partitioned by the table's
    * partition column (stored BOTH in the directory name and inside the
    * files). When a stats column is configured, one pass over the
    * just-written batch records per-file min/max (the write-time stats
    * collection every lakehouse log does). Returns the manifest entries
    * for the written files. Not visible to readers until a manifest
    * referencing them is committed. `enforceChecks = false` only for
    * rewrites of already-validated rows (OPTIMIZE).
    */
  private def writeBatch(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      meta: TableMeta,
      maxRecordsPerFile: Long = 0L,
      sortCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      enforceChecks: Boolean = true,
      preserveLayout: Boolean = false): Seq[Entry] = {
    if (enforceChecks) requireChecks(spark, df, meta, "write")
    // GENERATED ALWAYS AS: fill where the incoming row has NULL (an
    // INSERT that omitted the column), then refuse any provided value
    // that breaks the invariant — same refuse-before-commit contract as
    // CHECK constraints. Skipped with enforceChecks=false (OPTIMIZE
    // rewrites of already-validated rows).
    val gens = if (enforceChecks) generatedOf(meta.schema) else Nil
    val dfGen = gens.foldLeft(df) { case (d, (g, e)) =>
      d.withColumn(g,
        coalesce(col(g), org.apache.spark.sql.functions.expr(e))
          .cast(meta.schema(g).dataType))
    }
    // ONE fused existence probe for all generated-column invariants;
    // only a violation pays the per-column re-probe that names it
    def genViol(g: String, e: String): Column =
      !(col(g) <=> org.apache.spark.sql.functions.expr(e).cast(meta.schema(g).dataType))
    if (gens.nonEmpty && !dfGen.where(gens.map((genViol _).tupled).reduce(_ || _)).isEmpty) {
      gens.foreach { case (g, e) =>
        if (!dfGen.where(genViol(g, e)).isEmpty) throw new IllegalArgumentException(
          s"graft-lake write: rows violate GENERATED ALWAYS AS ($g = $e) — nothing committed")
      }
      throw new IllegalStateException(
        "graft-lake write: fused generated-column probe flagged a violation no " +
          "single column reproduces (non-deterministic generation expression?)")
    }
    // IDENTITY allocation: NULL cells fill from beyond the high-water
    // mark with sparse per-partition offsets — unique, direction-
    // monotonic vs every previously allocated value, no global sort.
    // Rewrite paths carry existing (non-null) values untouched. A
    // commit race re-runs the whole op (see append), so a losing
    // writer's allocation never lands.
    val idents = if (enforceChecks) identityOf(meta.schema) else Nil
    val dfId = idents.foldLeft(dfGen) { case (d, (c, start, step, _)) =>
      val hw = identityHighWater(spark, root, meta, c, start, step)
      d.withColumn(c, coalesce(col(c),
        (lit(hw + step) + lit(step) *
          org.apache.spark.sql.functions.monotonically_increasing_id())
          .cast(meta.schema(c).dataType)))
    }
    writeBatchRaw(spark, root, dfId, meta, maxRecordsPerFile, sortCols, zorderCols,
      preserveLayout)
  }

  /** The farthest identity value ever allocated for `c` (in `step`'s
    * direction): the max of the persisted `identity.hw.<c>` property
    * (advanced with each insert commit — survives DELETE of the highest
    * row, so values are never reused), the manifest's per-file stats
    * for the column, and a scan of any file the stats do not cover
    * (legacy batches only; tables created with an identity column get
    * it added to statsCols at init). `start - step` on an empty table.
    */
  private def identityHighWater(
      spark: SparkSession,
      root: String,
      meta: TableMeta,
      c: String,
      start: Long,
      step: Long): Long = {
    val dir: (Long, Long) => Long = if (step > 0) math.max else math.min
    val s0 = snapshot(spark, root)
    val propHw = s0.meta.flatMap(_.props.get(s"identity.hw.$c")).map(_.toLong)
    (Seq(start - step) ++ propHw ++ identityDataBound(spark, root, meta, s0.entries, c, step))
      .reduce(dir)
  }

  /** The farthest value PRESENT IN DATA for identity column `c`
    * (manifest stats where covered, a scan of only the uncovered
    * files otherwise); None on an empty table.
    */
  private def identityDataBound(
      spark: SparkSession,
      root: String,
      meta: TableMeta,
      entries: Seq[Entry],
      c: String,
      step: Long): Option[Long] = {
    val dir: (Long, Long) => Long = if (step > 0) math.max else math.min
    val i = meta.statsCols.indexOf(c)
    def cell(e: Entry): Option[String] =
      e.stats.lift(i).flatMap(s => if (step > 0) s._2 else s._1)
    val (covered, uncovered) =
      if (i < 0) (Seq.empty[Entry], entries) else entries.partition(e => cell(e).isDefined)
    val statBound = covered.flatMap(cell).map(_.toLong).reduceOption(dir)
    val scanBound =
      if (uncovered.isEmpty) None
      else {
        val agg = if (step > 0) max(col(s"`$c`")) else min(col(s"`$c`"))
        Option(readEntries(spark, root, meta.schema, uncovered).agg(agg).head.get(0))
          .map(_.toString.toLong)
      }
    (statBound ++ scanBound).reduceOption(dir)
  }

  /** `SYNC IDENTITY`: re-derive each identity column's high-water mark
    * from the data actually present (the Delta ALTER TABLE ... SYNC
    * IDENTITY verb — realigns allocation after explicit inserts on a
    * BY DEFAULT column). NOTE it can LOWER the mark (that is the verb's
    * point); values of rows deleted since then become allocatable
    * again, exactly as in Delta. Returns (column, new mark) pairs.
    */
  def syncIdentity(spark: SparkSession, root: String, maxRetries: Int = 3): Seq[(String, Long)] =
    retryOnConflict(maxRetries) {
      val s0 = snapshot(spark, root)
      require(s0.version > 0, s"LakeTable.syncIdentity: no committed snapshot at $root")
      val meta = s0.meta.get
      val marks = identityOf(meta.schema).map { case (c, start, step, _) =>
        c -> identityDataBound(spark, root, meta, s0.entries, c, step).getOrElse(start - step)
      }
      if (marks.nonEmpty) {
        val props = meta.props ++ marks.map { case (c, v) => s"identity.hw.$c" -> v.toString }
        commitOrConflict(spark, root, "syncIdentity", s0.version + 1,
          meta.copy(props = props), s0.entries)
      }
      marks
    }

  /** Meta for an insert commit with the identity high-water marks
    * advanced to cover the just-written batch (from its file stats) —
    * rides the SAME manifest swap as the data, so a later DELETE of the
    * highest rows can never make the mark regress.
    */
  private def advanceIdentityHw(meta: TableMeta, written: Seq[Entry]): TableMeta = {
    val updates = identityOf(meta.schema).flatMap { case (c, _, step, _) =>
      val dir: (Long, Long) => Long = if (step > 0) math.max else math.min
      val i = meta.statsCols.indexOf(c)
      val bound = written
        .flatMap(e => e.stats.lift(i).flatMap(s => if (step > 0) s._2 else s._1))
        .map(_.toLong).reduceOption(dir)
      val prev = meta.props.get(s"identity.hw.$c").map(_.toLong)
      (bound ++ prev).reduceOption(dir).map(v => s"identity.hw.$c" -> v.toString)
    }
    if (updates.isEmpty) meta else meta.copy(props = meta.props ++ updates)
  }

  /** The insert-funnel gate for `GENERATED ALWAYS AS IDENTITY`
    * (allowExplicitInsert = false): user-supplied values are refused —
    * internal COW/MOR rewrites do not pass through here and carry
    * existing values untouched.
    */
  private def requireNoExplicitIdentity(df: DataFrame, meta: TableMeta, op: String): Unit =
    identityOf(meta.schema).filterNot(_._4).foreach { case (c, _, _, _) =>
      if (df.columns.contains(c) && !df.where(col(s"`$c`").isNotNull).isEmpty)
        throw new IllegalArgumentException(
          s"graft-lake $op: $c is GENERATED ALWAYS AS IDENTITY — explicit values " +
            "are not accepted (omit the column)")
    }

  /** UPDATE-side gate for identity columns: SET (in UPDATE and in MERGE
    * matched/by-source branches) may never reassign an identity column —
    * ALWAYS and BY DEFAULT alike, the Delta contract. A reassignment
    * would both duplicate engine-allocated values and bypass the
    * high-water accounting that guarantees never-reuse.
    */
  private def requireNoIdentitySet(
      meta: TableMeta,
      assigned: Iterable[String],
      op: String): Unit = {
    val idents = identityOf(meta.schema).map(_._1).toSet
    assigned.find(idents.contains).foreach { c =>
      throw new IllegalArgumentException(
        s"graft-lake $op: $c is an IDENTITY column — SET on identity columns is " +
          "not allowed (values are engine-allocated exactly once)")
    }
  }

  private def writeBatchRaw(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      meta: TableMeta,
      maxRecordsPerFile: Long = 0L,
      sortCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      preserveLayout: Boolean = false): Seq[Entry] = {
    val batch = s"batch-${java.util.UUID.randomUUID().toString.take(8)}"
    val dataDir = new Path(new Path(dataRoot(root), "data"), batch)
    // column mapping: stamp each written column with its field id (the
    // parquet writer embeds StructField metadata ids into the files, so
    // post-RENAME readers keep matching them by id)
    val stamped =
      if (fieldIdsOf(meta.schema).isEmpty) df
      else {
        val fieldMeta = meta.schema.fields.map(f => f.name -> f.metadata).toMap
        df.select(df.columns.toSeq.map(c =>
          col(s"`$c`").as(c,
            fieldMeta.getOrElse(c, org.apache.spark.sql.types.Metadata.empty))): _*)
      }
    val keyed = stamped.withColumn(PartDirCol,
      PartitionFn.column(meta.partitionFn, col(meta.partitionCol),
        meta.schema(meta.partitionCol).dataType))
    // clustered layout: range-partition + in-partition sort on
    // (partition, sortCols) — each output file then covers one tight,
    // non-overlapping slice of the sort key, so the manifest min/max
    // entries (and parquet footer stats) prune range scans again. Range
    // partitioning also spreads a big lake partition over many tasks,
    // where the default hash-by-partition path writes it from one.
    val arranged =
      if (zorderCols.nonEmpty)
        // multi-dimensional clustering: range-partition + sort on the
        // Morton key of the z columns, so every output file is an
        // axis-aligned tile and its manifest min/max is tight in EVERY
        // z dimension (the transient key is dropped before writing)
        keyed
          .withColumn("__zclust", graft.functions.exprs.zorderN(zorderCols.map(col)))
          .repartitionByRange(col(PartDirCol), col("__zclust"))
          .sortWithinPartitions(col(PartDirCol), col("__zclust"))
          .drop("__zclust")
      else if (preserveLayout && sortCols.isEmpty)
        // COW rewrite whose rows provably keep their partition value
        // (DELETE; UPDATE not touching the partition source column): the
        // input is a scan of files that each live under ONE partition
        // directory, so it is already partition-aligned and file-sized —
        // rebalancing it would shuffle every rewritten byte only to
        // recreate the layout it arrived in. Write straight from the
        // scan: zero exchanges, the rewrite never crosses the network
        // (guide §2.4 "remove shuffles outright").
        keyed
      else if (sortCols.isEmpty) {
        // A provably-tiny driver-literal source (INSERT VALUES, metadata-
        // sized internal batches) needs no distribution at all:
        // coalesce(1) yields the same one-file-per-partition-value layout
        // the repartition produced, without a shuffle round-trip. Real
        // sources REBALANCE on the partition value instead of plain hash
        // repartitioning: AQE sizes the write tasks — coalescing tiny
        // values together and SPLITTING a giant value across tasks — so
        // one hot lake partition no longer writes from a single task at
        // scale (optimization guide §2.5 skew / §6 file sizing).
        def localRows(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Option[Long] =
          p match {
            case l: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
              Some(l.data.size.toLong)
            case pr: org.apache.spark.sql.catalyst.plans.logical.Project => localRows(pr.child)
            case fl: org.apache.spark.sql.catalyst.plans.logical.Filter => localRows(fl.child)
            case sa: org.apache.spark.sql.catalyst.plans.logical.SubqueryAlias => localRows(sa.child)
            case _ => None
          }
        if (localRows(keyed.queryExecution.logical).exists(_ <= 10000)) keyed.coalesce(1)
        else keyed.hint("rebalance", col(PartDirCol))
      }
      else keyed
        .repartitionByRange((PartDirCol +: sortCols).map(col): _*)
        .sortWithinPartitions((PartDirCol +: sortCols).map(col): _*)
    val writer = arranged.write.partitionBy(PartDirCol).mode("append")
    (if (maxRecordsPerFile > 0) writer.option("maxRecordsPerFile", maxRecordsPerFile)
     else writer).parquet(dataDir.toString)
    LakeStats.collectBatchMetadata(spark, root, batch, meta, df.columns.toSeq)
  }

  /** Create the table (version 1) from `df`. Fails if it already exists.
    * `statsCol`/`statsCols` opt into per-file min/max collection on those
    * columns for [[readRange]]/[[readRangeOn]] data skipping (the two
    * parameters concatenate; the singular form is the common one-column
    * case).
    */
  def init(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      partitionCol: String,
      statsCol: Option[String] = None,
      statsCols: Seq[String] = Nil,
      bloomCols: Seq[String] = Nil,
      deleteMode: String = "cow",
      partitionFn: String = PartitionFn.Identity,
      props: Map[String, String] = Map.empty): Unit = {
    val s0 = snapshot(spark, root)
    require(s0.version == 0, s"LakeTable.init: $root already at version ${s0.version}")
    require(deleteMode == "cow" || deleteMode == "mor",
      s"LakeTable.init: deleteMode must be cow or mor, got $deleteMode")
    // identity columns join statsCols automatically: the high-water
    // derivation reads per-file max/min from the manifest
    val allStats = (statsCol.toSeq ++ statsCols ++ identityOf(df.schema).map(_._1)).distinct
    (allStats ++ bloomCols :+ partitionCol).foreach(c => require(df.columns.contains(c),
      s"LakeTable.init: stats/bloom/partition column $c not in the frame"))
    PartitionFn.validate(partitionFn, df.schema(partitionCol).dataType)
    // every new table gets column-mapping ids from birth (1..n), so
    // RENAME COLUMN is metadata-only for its whole life; nested
    // nullability normalizes to permissive (deepPermissiveSchema)
    val mapped = withFieldIds(deepPermissiveSchema(df.schema),
      df.schema.fieldNames.zipWithIndex.map { case (n, i) => n -> (i + 1).toLong }.toMap)
    val meta = TableMeta(mapped, partitionCol, allStats, bloomCols = bloomCols,
      deleteMode = deleteMode, partitionFn = partitionFn, props = props)
    requireNoExplicitIdentity(df, meta, "init")
    val entries = writeBatch(spark, root, df, meta)
    if (!commit(spark, root, 1, advanceIdentityHw(meta, entries), entries))
      throw new CommitConflict(s"LakeTable.init: concurrent commit at $root")
  }

  /** Is `to` a SAFE (lossless, order-preserving) widening of `from`?
    * The Iceberg type-promotion set plus the int-family → double cases
    * Spark 4's parquet readers promote natively: every old file keeps
    * reading under the widened schema (the reader up-converts exactly)
    * and every value round-trips — nothing is rewritten.
    */
  private[graft] def widens(
      from: org.apache.spark.sql.types.DataType,
      to: org.apache.spark.sql.types.DataType): Boolean = {
    import org.apache.spark.sql.types._
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      case (f: DecimalType, t: DecimalType) =>
        t.scale == f.scale && t.precision > f.precision
      case _ => false
    }
  }

  /** Metadata-only ALTER: commit a new version whose schema gains
    * `addColumns` (appended; must be nullable — files written before the
    * change legitimately read NULL for them), loses `dropColumns`
    * (column-mapped tables only; the field id is retired via the
    * [[TableMeta.maxFieldId]] high-water mark so old data can never leak
    * into a later same-named column), renames via `renameColumns`,
    * and/or replaces the stats/bloom column sets. Data files carry
    * verbatim — this is one manifest commit, zero data I/O. Existing entries' stats cells are
    * REMAPPED to the new statsCols order (a column kept keeps its
    * recorded bounds; a column added records none, so old files are
    * conservatively never pruned on it — stats/blooms take effect for
    * batches written AFTER the change, exactly Delta's add-a-bloom
    * semantics). Returns the committed version.
    */
  def alterTable(
      spark: SparkSession,
      root: String,
      addColumns: Seq[org.apache.spark.sql.types.StructField] = Nil,
      statsCols: Option[Seq[String]] = None,
      bloomCols: Option[Seq[String]] = None,
      renameColumns: Map[String, String] = Map.empty,
      dropColumns: Seq[String] = Nil,
      addChecks: Seq[(String, String)] = Nil,
      dropChecks: Seq[String] = Nil,
      maxRetries: Int = 3,
      deleteMode: Option[String] = None,
      setProps: Map[String, String] = Map.empty,
      unsetProps: Seq[String] = Nil,
      // ALTER COLUMN c SET DEFAULT sql (Some) / DROP DEFAULT (None):
      // touches ONLY the CURRENT default (future inserts) — the
      // exists-default is frozen at ADD COLUMN time and files written
      // before a column existed keep reading exactly what they did
      setDefaults: Map[String, Option[String]] = Map.empty,
      // ALTER COLUMN c TYPE t — metadata-only TYPE WIDENING (the
      // Iceberg promotion model): old files keep their physical type
      // and the parquet reader up-converts; stat cells re-render
      // exactly; a widened bloom column's sidecars are rekeyed (stale
      // hashes stop matching — conservative). Narrowing, partition
      // columns (transform/bucket spaces are type-bound) and
      // generated-column inputs (the stored generated value was
      // computed under the old arithmetic type) are refused.
      widenColumns: Map[String, org.apache.spark.sql.types.DataType] = Map.empty)
      : Long = retryOnConflict(maxRetries) {
    deleteMode.foreach(m => require(m == "cow" || m == "mor",
      s"LakeTable.alterTable: deleteMode must be cow or mor, got $m"))
    addColumns.foreach(f => require(
      !f.metadata.contains(GenExprKey) && !f.metadata.contains(IdStartKey),
      s"LakeTable.alterTable: cannot ADD a GENERATED/IDENTITY column (${f.name}) — " +
        "existing rows would need a backfill rewrite; create it at table definition time"))
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.alterTable: no committed snapshot at $root")
    val meta = s0.meta.get
    // CHECK constraints: names unique; EXISTING data must already
    // satisfy a new constraint (the Delta ADD CONSTRAINT validation
    // scan — the one alterTable verb that reads data); a column a
    // constraint references cannot be renamed or dropped while the
    // constraint stands
    addChecks.foreach { case (n, sql) =>
      require(!meta.checks.exists(_._1 == n) && !dropChecks.contains(n),
        s"LakeTable.alterTable: CHECK constraint $n already exists")
      if (s0.entries.nonEmpty)
        requireChecks(spark, readEntries(spark, root, meta.schema, s0.entries),
          meta.copy(checks = Seq(n -> sql)), "ADD CONSTRAINT (existing rows)")
    }
    dropChecks.foreach(n => require(meta.checks.exists(_._1 == n),
      s"LakeTable.alterTable: CHECK constraint $n does not exist"))
    val standingChecks = meta.checks.filterNot(c => dropChecks.contains(c._1))
    (renameColumns.keys ++ dropColumns).foreach { c =>
      standingChecks.foreach { case (n, sql) =>
        val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }
        require(!refs.exists(_.equalsIgnoreCase(c)),
          s"LakeTable.alterTable: column $c is referenced by CHECK constraint $n " +
            s"($sql) — drop the constraint first")
      }
    }
    addColumns.foreach { f =>
      require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(f.name)) ||
        dropColumns.exists(_.equalsIgnoreCase(f.name)),
        s"LakeTable.alterTable: column ${f.name} already exists")
      require(f.nullable,
        s"LakeTable.alterTable: added column ${f.name} must be nullable " +
          "(existing files read NULL for it)")
    }
    // DROP COLUMN: metadata-only under column mapping — the field leaves
    // the schema, its data stays in old files but is never requested
    // (reads match by id), and its id is retired via the high-water mark
    // so a later ADD (even of the same name) can never resurrect it.
    dropColumns.foreach { c =>
      require(meta.schema.fieldNames.contains(c),
        s"LakeTable.alterTable: DROP column $c does not exist")
      require(!meta.specs.exists(_._1 == c),
        s"LakeTable.alterTable: cannot drop partition column $c (current or prior spec)")
      require(meta.schema(c).metadata.contains(FieldIdKey),
        s"LakeTable.alterTable: column $c has no field id — the table was " +
          "created before column mapping; DROP would break reads of existing files")
      require(!renameColumns.contains(c) && !renameColumns.valuesIterator.contains(c),
        s"LakeTable.alterTable: column $c cannot be both dropped and renamed")
    }
    require(dropColumns.size < meta.schema.size,
      "LakeTable.alterTable: cannot drop every column")
    // RENAME COLUMN: metadata-only under column mapping — the field id
    // stays, the logical name changes, every already-written file keeps
    // reading by id. Refused for tables whose files predate ids (a
    // name-matched read after rename would silently return NULL).
    renameColumns.foreach { case (from, to) =>
      require(meta.schema.fieldNames.contains(from),
        s"LakeTable.alterTable: RENAME source column $from does not exist")
      require(!meta.schema.fieldNames.exists(_.equalsIgnoreCase(to)),
        s"LakeTable.alterTable: RENAME target column $to already exists")
      require(!meta.specs.exists(_._1 == from),
        s"LakeTable.alterTable: cannot rename partition column $from (current or prior spec)")
      require(meta.schema(from).metadata.contains(FieldIdKey),
        s"LakeTable.alterTable: column $from has no field id — the table was " +
          "created before column mapping; RENAME would break reads of existing files")
    }
    // TYPE WIDENING validations (keys are the column's CURRENT name —
    // a SQL statement carries a single ALTER COLUMN change, so widen
    // never composes with a same-statement rename/drop of its column)
    widenColumns.foreach { case (c, to) =>
      require(meta.schema.fieldNames.contains(c),
        s"LakeTable.alterTable: ALTER COLUMN TYPE column $c does not exist")
      require(!renameColumns.contains(c) && !dropColumns.contains(c),
        s"LakeTable.alterTable: column $c cannot be widened and renamed/dropped together")
      val from = meta.schema(c).dataType
      require(widens(from, to),
        s"LakeTable.alterTable: ALTER COLUMN $c TYPE ${to.simpleString} is not a " +
          s"safe widening of ${from.simpleString} (data files are immutable — only " +
          "byte/short/int->long, int-family->double, float->double and decimal " +
          "precision widening read back losslessly)")
      require(!meta.specs.exists(_._1 == c),
        s"LakeTable.alterTable: cannot widen partition column $c (current or prior " +
          "spec) — transform/bucket spaces are type-bound, old files would misprune")
      require(!meta.schema(c).metadata.contains(GenExprKey),
        s"LakeTable.alterTable: cannot widen GENERATED column $c — stored values " +
          "were computed under the old expression type")
      generatedOf(meta.schema).foreach { case (g, sql) =>
        val refs = spark.sessionState.sqlParser.parseExpression(sql).collect {
          case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute => a.name
        }
        require(!refs.exists(_.equalsIgnoreCase(c)),
          s"LakeTable.alterTable: column $c is referenced by GENERATED column $g " +
            s"($sql) — widening would change the expression's result type while " +
            "stored values keep the old one")
      }
    }
    def renamed(n: String): String = renameColumns.getOrElse(n, n)
    val dropped = dropColumns.toSet
    val keptSchema = StructType(meta.schema.fields.filterNot(f => dropped(f.name)))
    val renamedSchema = StructType(keptSchema.fields.map(f => f.copy(name = renamed(f.name))))
    // extendSchema assigns fresh field ids on a column-mapped table —
    // the SAME evolution point as append/merge widening, so a column
    // added here stays renamable later; the highWater floor spans the
    // PRE-drop schema, so a just-dropped id is already out of reach
    val extended = extendSchema(renamedSchema, addColumns, highWater(meta))
    require(extended.fieldNames.distinct.length == extended.fieldNames.length,
      s"LakeTable.alterTable: duplicate column names after rename/add " +
        s"(${extended.fieldNames.mkString(", ")})")
    setDefaults.keys.foreach { c =>
      require(extended.fieldNames.contains(c),
        s"LakeTable.alterTable: SET/DROP DEFAULT column $c does not exist")
      require(!extended(c).metadata.contains(GenExprKey) &&
        !extended(c).metadata.contains(IdStartKey),
        s"LakeTable.alterTable: $c is GENERATED/IDENTITY — it cannot take a DEFAULT")
    }
    // widen keys are pre-statement names; extended is post-rename (a
    // widened column is never renamed in the same call — validated)
    val widenRenamed: Map[String, org.apache.spark.sql.types.DataType] =
      widenColumns.map { case (k, v) => renamed(k) -> v }
    val newSchema = StructType(extended.fields.map { f0 =>
      // the field id, defaults and every other metadata ride along —
      // only the logical type changes; old files keep their physical
      // type and the parquet reader up-converts at scan time
      val f = widenRenamed.get(f0.name).fold(f0)(t => f0.copy(dataType = t))
      setDefaults.get(f.name).fold(f) { sqlOpt =>
        val b = new org.apache.spark.sql.types.MetadataBuilder().withMetadata(f.metadata)
        sqlOpt match {
          case Some(sql) => b.putString(CurrentDefaultKey, sql)
          case None => b.remove(CurrentDefaultKey)
        }
        f.copy(metadata = b.build())
      }
    })
    val newStats = statsCols.getOrElse(meta.statsCols.filterNot(dropped).map(renamed))
    val newBlooms = bloomCols.getOrElse(meta.bloomCols.filterNot(dropped).map(renamed))
    (newStats ++ newBlooms).foreach(c => require(newSchema.fieldNames.contains(c),
      s"LakeTable.alterTable: stats/bloom column $c not in the schema"))
    // renamed bloom columns keep matching sidecar rows written under
    // their former names (manifest-recorded aliases; zero sidecar I/O).
    // An alias that collides with a LIVE column name is dropped: new
    // files write sidecar rows under that name for the OTHER column, and
    // matching them would consult the wrong bloom (a false prune). The
    // old column's pre-rename sidecars just stop pruning — conservative.
    val newAliases0 = renameColumns.foldLeft(meta.bloomAliases -- dropped) {
      // a column with a sidecar KEY needs no rename alias: its rows are
      // keyed by the (name-decoupled) key, and aliasing the old name
      // would match stale pre-widening rows written under it
      case (acc, (from, to))
          if meta.bloomCols.contains(from) && !meta.bloomKeys.contains(from) =>
        (acc - from) + (to -> (from +: acc.getOrElse(from, Nil)))
      case (acc, (from, to)) => (acc - from) ++ acc.get(from).map(to -> _)
    }.map { case (cur, olds) =>
      cur -> olds.filterNot(newSchema.fieldNames.contains)
    }.filter(_._2.nonEmpty)
    // rekey widened bloom columns: pre-widening sidecar rows (bits of
    // the OLD type's hashes) stop matching — conservative, those files
    // are kept; post-widening writes key rows under the version-stamped
    // name. Aliases of a rekeyed column are purged for the same reason.
    val rekeyedBlooms = newBlooms.filter(widenRenamed.contains).toSet
    val newAliases = newAliases0 -- rekeyedBlooms
    val newKeys = (meta.bloomKeys -- dropped).map { case (c, k) => renamed(c) -> k } ++
      rekeyedBlooms.map(c => c -> s"$c#w${s0.version + 1}")
    val newMeta = meta.copy(schema = newSchema, statsCols = newStats,
      bloomCols = newBlooms, bloomAliases = newAliases, bloomKeys = newKeys,
      // retire dropped ids forever (highWater spans the pre-drop schema)
      maxFieldId = if (dropColumns.nonEmpty) highWater(meta) else meta.maxFieldId,
      checks = standingChecks ++ addChecks,
      deleteMode = deleteMode.getOrElse(meta.deleteMode),
      props = meta.props ++ setProps -- unsetProps)
    val oldStatsRenamed = meta.statsCols.map(renamed)
    val entries = s0.entries.map { e =>
      e.copy(stats = newStats.map { c =>
        val i = oldStatsRenamed.indexOf(c)
        if (i >= 0) {
          val cell = e.stats.lift(i).getOrElse((None: Option[String], None: Option[String]))
          // a widened stats column re-renders its cells exactly under
          // the new type in the SAME commit (see LakeStats.rewiden: a float
          // rendering re-read as a double mis-orders against double
          // bounds — a wrong prune)
          widenRenamed.get(c).fold(cell) { to =>
            val from = meta.schema(meta.statsCols(i)).dataType
            (cell._1.map(LakeStats.rewiden(_, from, to)),
              cell._2.map(LakeStats.rewiden(_, from, to)))
          }
        } else (None: Option[String], None: Option[String])
      })
    }
    commitOrConflict(spark, root, "alterTable", s0.version + 1, newMeta, entries)
  }

  /** PARTITION SPEC EVOLUTION (`ALTER TABLE ... SET PARTITIONING`, the
    * Iceberg per-spec model): change the partitioning of FUTURE writes
    * in one metadata-only commit. Existing files are untouched — they
    * keep their manifest entries, their partition values, and their
    * pruning under the spec they were written with; new files list and
    * prune under the new spec; [[optimize]] migrates old groups forward
    * as it compacts. A long-lived 100 TB table outgrows its original
    * grain; this is the verb that changes it without a rewrite.
    */
  def setPartitioning(
      spark: SparkSession,
      root: String,
      partitionCol: String,
      partitionFn: String = PartitionFn.Identity,
      maxRetries: Int = 3): Long = retryOnConflict(maxRetries) {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.setPartitioning: no committed snapshot at $root")
    val meta = s0.meta.get
    require(meta.schema.fieldNames.contains(partitionCol),
      s"LakeTable.setPartitioning: column $partitionCol not in table schema")
    PartitionFn.validate(partitionFn, meta.schema(partitionCol).dataType)
    if (partitionCol == meta.partitionCol && partitionFn == meta.partitionFn)
      s0.version // already the current spec — no empty commit
    else commitOrConflict(spark, root, "setPartitioning", s0.version + 1,
      meta.copy(partitionCol = partitionCol, partitionFn = partitionFn,
        priorSpecs = meta.priorSpecs :+ ((meta.partitionCol, meta.partitionFn))),
      s0.entries)
  }

  // ---- read path -----------------------------------------------------

  /** The scan-side DV filter: keep rows whose `_metadata.row_index` is
    * NOT in the file's deletion vector. The driver ships only sidecar
    * PATH strings — executors load bitmaps lazily through the JVM-wide
    * cache, so a broad scan over many DV'd files never materializes the
    * vectors on the driver.
    */
  private[graft] def dvKeepColumn(
      spark: SparkSession,
      root: String,
      dvd: Seq[Entry]): Column = {
    val paths = dvd.map(e => Dv.suffixKey(e.rel) -> s"${dataRoot(root)}/${e.dv.get.rel}").toMap
    org.apache.spark.sql.GraftColumnBridge.column(DvKeepExpr(
      exprOf(col("_metadata.file_path")), exprOf(col("_metadata.row_index")),
      paths, Map.empty, keepMembers = false,
      new org.apache.spark.util.SerializableConfiguration(
        spark.sessionState.newHadoopConf())))
  }

  private def exprOf(c: Column): org.apache.spark.sql.catalyst.expressions.Expression =
    org.apache.spark.sql.GraftColumnBridge.expression(c)

  private def readEntries(
      spark: SparkSession,
      root: String,
      schema: StructType,
      entries: Seq[Entry]): DataFrame = {
    def scan(es: Seq[Entry]): DataFrame =
      // the manifest's schema drives the scan: files written under an
      // older (narrower) schema yield NULL for since-added columns
      spark.read.schema(schema).parquet(es.map(e => s"${dataRoot(root)}/${e.rel}"): _*)
    val (dvd, clean) = entries.partition(_.dv.isDefined)
    if (entries.isEmpty)
      // a legitimately-empty committed state (e.g. a delete that removed
      // every row) must stay readable and writable
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else if (dvd.isEmpty) scan(clean)
    else {
      // merge-on-read: DV'd files scan with their dead positions
      // filtered out (vectorized parquet fills `_metadata.row_index`
      // correctly even under predicate/page skipping); DV-free files
      // keep the plain scan — two branches of one union, each pruned
      // and pushed down independently
      val dvSide = scan(dvd)
        .where(dvKeepColumn(spark, root, dvd))
        .select(schema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
      if (clean.isEmpty) dvSide else scan(clean).unionByName(dvSide)
    }
  }

  /** Rows of `entries` AT the given DV'd positions (the CDC face: read
    * back exactly what a MOR delete removed). `bitmaps` maps file NAME
    * to a serialized position bitmap — small derived diffs ship inline.
    */
  private def readAtPositions(
      spark: SparkSession,
      root: String,
      schema: StructType,
      entries: Seq[Entry],
      bitmaps: Map[String, Array[Byte]]): DataFrame =
    if (entries.isEmpty)
      spark.createDataFrame(spark.sparkContext.emptyRDD[Row], schema)
    else {
      val keep = org.apache.spark.sql.GraftColumnBridge.column(DvKeepExpr(
        exprOf(col("_metadata.file_path")), exprOf(col("_metadata.row_index")),
        Map.empty, bitmaps, keepMembers = true,
        new org.apache.spark.util.SerializableConfiguration(
          spark.sessionState.newHadoopConf())))
      spark.read.schema(schema).parquet(entries.map(e => s"${dataRoot(root)}/${e.rel}"): _*)
        .where(keep)
        .select(schema.fieldNames.map(n => col(s"`$n`")).toSeq: _*)
    }

  /** Current table contents (the committed snapshot only — in-flight or
    * orphaned batches are invisible by construction).
    */
  def read(spark: SparkSession, root: String): DataFrame = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.read: no committed snapshot at $root")
    readEntries(spark, root, s0.meta.get.schema, s0.entries)
  }

  /** Partition-pruned read: only files whose manifest partition value is
    * in `values` reach the scan — planning-time pruning from metadata
    * alone, zero file listing or footer I/O for every other partition
    * (the manifest IS the file index; on a 100 TB table this is the
    * first and cheapest cut, before [[readRange]]'s min/max skipping).
    * Pass [[NullPartition]] to select the null-keyed partition.
    */
  def readPartitions(spark: SparkSession, root: String, values: Set[String]): DataFrame = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.readPartitions: no committed snapshot at $root")
    val meta = s0.meta.get
    val (current, older) = s0.entries.partition(_.spec == meta.currentSpec)
    val direct = readEntries(spark, root, meta.schema, current.filter(e => values.contains(e.part)))
    // values are CURRENT-spec partition strings; rows in files written
    // under an older spec are not grouped by them — read those files and
    // row-filter on the current spec expression (exact, just not pruned)
    if (older.isEmpty) direct
    else direct.unionByName(
      readEntries(spark, root, meta.schema, older).where(partExpr(meta).isin(values.toSeq: _*)))
  }

  /** Table history from the manifests alone (the DESCRIBE HISTORY
    * shape): one row per committed version with its file count, its
    * metadata row count (null for versions predating count recording),
    * and the per-commit deltas (files/rows added and removed vs the
    * previous version — an append shows only adds, a merge/delete/
    * optimize shows both, a restore shows the swing back). Pure
    * manifest metadata: O(versions × files) driver-side, zero data I/O.
    */
  def history(spark: SparkSession, root: String): DataFrame = {
    import spark.implicits._
    historyRows(spark, root).toDF("version", "files", "rows",
      "files_added", "rows_added", "files_removed", "rows_removed")
  }

  /** The history rows themselves — shared by [[history]] and the
    * catalog's `t.__history` metadata table (driver-local either way).
    */
  private[graft] def historyRows(spark: SparkSession, root: String)
      : Seq[(Long, Long, Option[Long], Long, Option[Long], Long, Option[Long])] = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.history: no committed snapshot at $root")
    // a vacuumed version's entry SEGMENTS may be reclaimed while its
    // manifest doc survives — such versions are unreadable by contract
    // (readVersion refuses them too) and simply drop out of the walk;
    // a version right after a gap diffs against the nearest readable
    // predecessor, so its deltas honestly cover the whole gap
    val perV = (1L to s0.version).flatMap(v =>
      scala.util.Try(v -> readManifest(spark, root, v)._2).toOption)
    perV.zipWithIndex.map { case ((v, entries), i) =>
      val prev = if (i == 0) Nil else perV(i - 1)._2
      val prevByRel = prev.map(e => e.rel -> e).toMap
      val curRels = entries.map(_.rel).toSet
      val added = entries.filterNot(e => prevByRel.contains(e.rel))
      val removed = prev.filterNot(e => curRels.contains(e.rel))
      def rowSum(es: Seq[Entry]): Option[Long] =
        if (es.exists(_.rows.isEmpty)) None else Some(es.flatMap(_.liveRows).sum)
      (v, entries.size.toLong, rowSum(entries),
        added.size.toLong, rowSum(added),
        removed.size.toLong, rowSum(removed))
    }
  }

  /** Metadata-only COUNT(*): the snapshot's per-file row counts summed —
    * zero data I/O (the numRecords pattern every lakehouse log uses for
    * count-star). None when some live entry predates count recording
    * (the caller then falls back to `read(...).count()`); a merge/
    * optimize rewrite refreshes counts as a side effect of rewriting.
    */
  def countRows(spark: SparkSession, root: String): Option[Long] = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.countRows: no committed snapshot at $root")
    if (s0.entries.exists(_.rows.isEmpty)) None
    else Some(s0.entries.flatMap(_.liveRows).sum)
  }

  /** Metadata-only per-partition row counts (NULL partition under the
    * sentinel key); same all-entries-counted contract as [[countRows]].
    */
  def countByPartition(spark: SparkSession, root: String): Option[Map[String, Long]] = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.countByPartition: no committed snapshot at $root")
    // spec-evolved snapshots refuse (None = count by scanning): part
    // values of different specs are not one keyed space
    if (s0.entries.exists(_.rows.isEmpty) ||
      s0.entries.exists(_.spec != s0.meta.get.currentSpec)) None
    else Some(s0.entries.groupBy(_.part).map { case (p, es) => p -> es.flatMap(_.liveRows).sum })
  }

  /** RESTORE: roll the table BACK to `version`'s contents as a NEW
    * commit (the Delta RESTORE verb) — the bad-deploy undo that keeps
    * history linear: nothing is deleted, the head simply becomes a
    * manifest carrying the old version's entries (and its schema —
    * restoring to before an evolution narrows back), so the mistake AND
    * the restore both stay auditable/time-travelable, CDC consumers see
    * the restore as ordinary changes, and a concurrent writer races on
    * the commit like any other. Fails crisply if `version`'s files were
    * already vacuumed (same contract as [[readVersion]]). Restoring to
    * the current head is a no-op commit of the same contents.
    * Transactional-writer watermarks carry from the CURRENT head, not
    * the restored version — replay protection must survive the
    * rollback, or a replayed post-restore micro-batch would
    * double-insert.
    */
  def restore(spark: SparkSession, root: String, version: Long, maxRetries: Int = 3): Long =
    retryOnConflict(maxRetries) {
      val s0 = snapshot(spark, root)
      require(s0.version > 0, s"LakeTable.restore: no committed snapshot at $root")
      require(version <= s0.version,
        s"LakeTable.restore: v$version is not in history (head is v${s0.version})")
      val target = snapshotAt(spark, root, version) // incl. the vacuumed-files refusal
      commitOrConflict(spark, root, "restore", s0.version + 1,
        target.meta.get.copy(txns = s0.meta.get.txns), target.entries)
    }

  /** Time travel: the table exactly as committed at `version` — its own
    * schema, its own file list. Every manifest and every data file is
    * immutable, so any version whose files outlive the vacuum retention
    * window reads back bit-for-bit.
    */
  def readVersion(spark: SparkSession, root: String, version: Long): DataFrame = {
    val s = snapshotAt(spark, root, version)
    readEntries(spark, root, s.meta.get.schema, s.entries)
  }

  /** [[readVersion]] narrowed to files that can hold any of `keys`'
    * tuples — the same key probe the merge path prunes through
    * ([[keyProbePruner]]), so a derived-view dirty-group re-aggregation
    * reads candidate files only, never the table (files without covering
    * stats are conservatively kept). A NULL key lies outside every
    * min/max bound and Bloom `IN` list, so when the one key fold sees one
    * (a null-safe caller's NULL group) the read is the unpruned version —
    * a superset, sound for every caller.
    */
  def readVersionForKeys(
      spark: SparkSession,
      root: String,
      version: Long,
      keyCols: Seq[String],
      keys: DataFrame): DataFrame = {
    val s = snapshotAt(spark, root, version)
    val meta = s.meta.get
    val ks = keys.select(keyCols.map(col): _*)
    val (bounds, keyHasNull) = foldKeyInfo(ks, keyCols)
    readEntries(spark, root, meta.schema,
      if (keyHasNull) s.entries else s.entries.filter(keyProbePruner(spark, root, meta, ks, bounds)))
  }

  /** The committed snapshot AT `version` (time-travel planning face; the
    * `graft-lake` connector's `versionAsOf` resolves through this), with
    * the same crisp vacuumed-snapshot refusal as [[readVersion]]: a
    * snapshot whose files [[vacuum]] already reclaimed must fail at plan
    * time — a partial read (or a mid-scan FileNotFoundException) silently
    * misrepresents the version. One exists() per entry is planning-path
    * metadata cost, the same order as the scan's own file listing.
    */
  def snapshotAt(spark: SparkSession, root: String, version: Long): Snapshot = {
    val mf = new Path(manifestDir(root), s"v$version.manifest")
    require(fs(spark, mf).exists(mf), s"LakeTable.readVersion: no v$version at $root")
    val (meta, entries) = readManifest(spark, root, version)
    val fsys = fs(spark, new Path(dataRoot(root)))
    val missing = entries.filterNot(e =>
      fsys.exists(new Path(dataRoot(root), e.rel)) &&
        e.dv.forall(d => fsys.exists(new Path(dataRoot(root), d.rel))))
    require(missing.isEmpty,
      s"LakeTable.readVersion: v$version at $root has been vacuumed — " +
        s"${missing.size}/${entries.size} data files reclaimed (time travel is " +
        s"limited to the vacuum retention window); first missing: ${missing.head.rel}")
    Snapshot(version, Some(meta), entries)
  }

  // ---- data skipping -------------------------------------------------

  /** Largest distinct-key-tuple count a merge batch may have and still
    * probe the Bloom sidecars with `k IN (…)` (the keys are collected to
    * the driver; a wider batch falls back to min/max bounds alone).
    */
  private val MaxBloomProbeKeys = 1000

  /** One-job key probe fold over `df`'s columns `cols`, from a single
    * mapPartitions pass: each column's exact min and max as internal
    * values in Spark's own SQL ordering (NaN greatest, -0.0 = 0.0,
    * strings in binary order) — None when the column holds no non-null
    * value — and whether any of them holds a NULL (the null-safe merge
    * gate). Only types the file pruner compares get bounds; other
    * columns feed the null check alone. No columns, no job.
    */
  private def foldKeyInfo(
      df: DataFrame,
      cols: Seq[String]): (Map[String, Option[(Any, Any)]], Boolean) =
    if (cols.isEmpty) (Map.empty, false)
    else {
      import org.apache.spark.sql.catalyst.util.TypeUtils
      val dts = cols.map(df.schema(_).dataType).toArray
      val n = dts.length
      val folds = dts.map {
        case _: NumericType | StringType | DateType | TimestampType | TimestampNTZType |
            BooleanType => true
        case _ => false
      }
      val parts = df.select(cols.map(col): _*).queryExecution.toRdd.mapPartitions { it =>
        val get = dts.map(InternalRow.getAccessor(_, true))
        val ord = dts.indices.map(i =>
          if (folds(i)) TypeUtils.getInterpretedOrdering(dts(i)) else null)
        val lo = new Array[Any](n)
        val hi = new Array[Any](n)
        var anyNull = false
        it.foreach { r =>
          var i = 0
          while (i < n) {
            if (r.isNullAt(i)) anyNull = true
            else if (folds(i)) {
              val v = get(i)(r, i)
              if (lo(i) == null || ord(i).lt(v, lo(i))) lo(i) = InternalRow.copyValue(v)
              if (hi(i) == null || ord(i).gt(v, hi(i))) hi(i) = InternalRow.copyValue(v)
            }
            i += 1
          }
        }
        Iterator.single((lo, hi, anyNull))
      }.collect()
      val bounds = cols.indices.filter(folds(_)).map { i =>
        val ord = TypeUtils.getInterpretedOrdering(dts(i))
        val seen = parts.filter(_._1(i) != null)
        cols(i) -> (if (seen.isEmpty) None
          else Some((seen.map(_._1(i)).min(ord), seen.map(_._2(i)).max(ord))))
      }
      (bounds.toMap, parts.exists(_._3))
    }

  /** Key columns of `batch` a probe can prune on: stats or partition
    * columns of the batch's own type.
    */
  private def probeCols(meta: TableMeta, batch: StructType): Seq[String] =
    batch.fieldNames.toSeq.filter(k =>
      (meta.statsCols.contains(k) || meta.partitionCol == k) && sameType(meta, batch, k))

  /** Whether table column `k` has the batch's type: a key literal
    * coerced to another type could order differently from the join.
    */
  private def sameType(meta: TableMeta, batch: StructType, k: String): Boolean =
    meta.schema.find(_.name == k).exists(_.dataType == batch(k).dataType)

  /** The file pruner for an equi-key probe of the batch keys `srcKeys`
    * (one column per key, distinct), through [[predicateFilePruner]]: a
    * file that cannot hold a matched row needs neither the probe read
    * nor the COW rewrite. The row predicate is `k BETWEEN lo AND hi` per
    * [[probeCols]] key with folded `bounds` (FALSE when the batch holds
    * no non-null value there — it can equi-match nothing), plus
    * `k IN (…)` per same-typed Bloom column for a batch of at most
    * [[MaxBloomProbeKeys]] tuples, where per-file blooms prune an
    * unclustered key layout min/max cannot. A composite key matches only
    * when EVERY column matches, so one ruled-out column skips the file.
    */
  private def keyProbePruner(
      spark: SparkSession,
      root: String,
      meta: TableMeta,
      srcKeys: DataFrame,
      bounds: Map[String, Option[(Any, Any)]]): Entry => Boolean = {
    import org.apache.spark.sql.catalyst.expressions.Literal
    def litOf(v: Any, k: String) = GraftColumnBridge.column(Literal(v, meta.schema(k).dataType))
    val ranges = probeCols(meta, srcKeys.schema).flatMap(k => bounds.get(k).map {
      case Some((lo, hi)) => col(k).between(litOf(lo, k), litOf(hi, k))
      case None => lit(false)
    })
    val bloomed = srcKeys.columns.toSeq.filter(k =>
      meta.bloomCols.contains(k) && sameType(meta, srcKeys.schema, k))
    val ins =
      if (bloomed.isEmpty) Nil
      else {
        val rows = srcKeys.select(bloomed.map(col): _*).limit(MaxBloomProbeKeys + 1).collect()
        if (rows.length > MaxBloomProbeKeys) Nil
        else bloomed.zipWithIndex.map { case (k, i) =>
          val vs = rows.map(_.get(i)).filter(_ != null).distinct.toSeq
          if (vs.isEmpty) lit(false)
          else col(k).isin(vs.map(v =>
            GraftColumnBridge.column(Literal.create(v, meta.schema(k).dataType))): _*)
        }
      }
    (ranges ++ ins).reduceOption(_ && _)
      .fold((_: Entry) => true)(predicateFilePruner(spark, root, meta, _))
  }

  // ---- Bloom point-lookup skipping -----------------------------------

  /** `read(...).where(column === value)` with per-file Bloom skipping —
    * the POINT-lookup complement of [[readRange]]: min/max stats cannot
    * prune an equality probe on an unclustered high-cardinality column
    * (every file's [min,max] spans the domain), but a per-file Bloom
    * filter excludes all but ~fpp of the non-containing files from
    * metadata sidecars alone. `column` must be in the table's
    * `bloomCols`; the lookup prunes through [[predicateFilePruner]], so
    * stats and partition arms apply too. NULL lookups are rejected
    * (`= NULL` is never TRUE — use a partition/IS NULL read).
    */
  def readPoint(spark: SparkSession, root: String, column: String, value: Any): DataFrame = {
    require(value != null, "LakeTable.readPoint: NULL equality never matches")
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.readPoint: no committed snapshot at $root")
    val meta = s0.meta.get
    require(meta.bloomCols.contains(column),
      s"LakeTable.readPoint: $column is not a bloom column (have ${meta.bloomCols})")
    readPruned(spark, root, s0, col(column) === lit(value))
  }

  /** `read(...).where(statsCol BETWEEN lo AND hi)` with manifest min/max
    * file skipping: files whose stats interval cannot contain a match are
    * never handed to the parquet scan at all — planning-time pruning from
    * metadata alone, the footer-free skipping a 100 TB table needs. The
    * bounds prune through [[predicateFilePruner]], typed and rendered as
    * the scan renders them (a TIMESTAMP bound compares in the stats'
    * cast-to-string form), and the same predicate filters the rows, so
    * results are identical to the unpruned filtered read.
    */
  def readRange(spark: SparkSession, root: String, lo: Any, hi: Any): DataFrame = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.readRange: no committed snapshot at $root")
    readRangeOn(spark, root,
      s0.meta.get.statsCol.getOrElse(
        sys.error("LakeTable.readRange: table has no stats column")),
      lo, hi)
  }

  /** [[readRange]] on a NAMED stats column — with several recorded stats
    * dimensions (and a clustered [[optimize]] layout on them), range
    * reads skip files on whichever dimension the predicate hits.
    */
  def readRangeOn(spark: SparkSession, root: String, statsCol: String, lo: Any, hi: Any): DataFrame = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.readRangeOn: no committed snapshot at $root")
    require(s0.meta.get.statsCols.contains(statsCol),
      s"LakeTable.readRangeOn: $statsCol is not a stats column (have ${s0.meta.get.statsCols})")
    readPruned(spark, root, s0, col(statsCol).between(lit(lo), lit(hi)))
  }

  /** `s0`'s rows matching `predicate`, reading only the files
    * [[predicateFilePruner]] keeps — the files a SELECT with the same
    * WHERE reads.
    */
  private def readPruned(spark: SparkSession, root: String, s0: Snapshot, predicate: Column) = {
    val meta = s0.meta.get
    readEntries(spark, root, meta.schema,
      s0.entries.filter(predicateFilePruner(spark, root, meta, predicate))).where(predicate)
  }

  // ---- MERGE ---------------------------------------------------------

  /** Pad/reorder `df` to `schema` (by name; missing columns → NULL). */
  private[graft] def align(df: DataFrame, schema: StructType): DataFrame =
    df.select(schema.map { f =>
      if (df.columns.contains(f.name)) col(f.name).cast(f.dataType).as(f.name)
      else lit(null).cast(f.dataType).as(f.name)
    }.toSeq: _*)

  /** Transactional blind INSERT: `df`'s rows are appended as a new batch
    * and committed — no existing file is read or rewritten, so the cost
    * is O(batch) regardless of table size. This is the right operation
    * for fact streams (events only ever arrive, never change); [[merge]]
    * is for upserts. Appends accumulate one file per touched partition
    * per commit — [[optimize]] folds them back down. Source columns the
    * table lacks evolve the schema like merge's. No key-uniqueness check
    * is made (a blind insert of an existing key duplicates it — use
    * merge when keys can repeat).
    *
    * `txnAppId`/`txnVersion` make the append IDEMPOTENT (the
    * transactional-writer pattern): the manifest records the highest
    * txnVersion committed per appId, and an append whose (appId, version)
    * is already at-or-below that watermark is a no-op — so a replayed
    * streaming micro-batch or a retried scheduled job cannot
    * double-insert. Versions must be monotonically increasing per appId
    * (foreachBatch's batchId is exactly that).
    */
  def append(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      maxRetries: Int = 3,
      txnAppId: Option[String] = None,
      txnVersion: Long = -1L): MergeStats = {
    txnAppId.foreach { _ =>
      require(txnVersion >= 0, "LakeTable.append: txnAppId requires txnVersion >= 0")
    }
    // a lost race orphans the batch (vacuum reclaims it) and recomputes
    // against the winner's snapshot — the txn watermark is re-checked
    // there, so a racing replay still cannot double-commit
    retryOnConflict(maxRetries) {
      val s0 = snapshot(spark, root)
      require(s0.version > 0, s"LakeTable.append: no committed snapshot at $root")
      val meta = s0.meta.get
      if (txnAppId.exists(app => meta.txns.get(app).exists(_ >= txnVersion)))
        // this (appId, version) already committed — replay, not new data
        unchanged(s0, -1)
      else {
        val newFields = df.schema.filterNot(f => meta.schema.fieldNames.contains(f.name))
        val newMeta = meta.copy(
          schema = extendSchema(meta.schema, newFields.toSeq, highWater(meta)),
          txns = txnAppId.fold(meta.txns)(app => meta.txns + (app -> txnVersion)))
        requireNoExplicitIdentity(df, meta, "append")
        val written = writeBatch(spark, root, align(df, newMeta.schema), newMeta)
        MergeStats(commitOrConflict(spark, root, "append", s0.version + 1,
          advanceIdentityHw(newMeta, written), s0.entries ++ written),
          0, 0, s0.entries.size, written.size)
      }
    }
  }

  /** Commit one epoch of a streaming `writeStream.toTable` query. The
    * epoch's files were already written by executor-side DataWriters
    * under `data/<batch>/` (dot-temp names renamed on TASK commit, so
    * speculative/failed attempts never surface); this runs the same
    * fused write-metadata pass as [[writeBatch]] and commits with the
    * TRANSACTIONAL-WRITER watermark (`appId -> epochId`): a REPLAYED
    * epoch — streaming recovery re-running a batch whose sink commit
    * already landed — is recognized and skipped, giving exactly-once
    * effect (the [[append]] txn contract, driven by the engine's
    * epoch ids instead of foreachBatch's batch ids). A skipped replay's
    * freshly-written files are orphans vacuum reclaims.
    */
  private[graft] def appendStreamEpoch(
      spark: SparkSession,
      root: String,
      batch: String,
      appId: String,
      epochId: Long,
      maxRetries: Int = 5): Unit = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.appendStreamEpoch: no committed snapshot at $root")
    if (s0.meta.get.txns.get(appId).exists(_ >= epochId)) return // replayed epoch
    val entries = LakeStats.collectBatchMetadata(spark, root, batch, s0.meta.get,
      s0.meta.get.schema.fieldNames.toSeq)
    // executor-written files bypass writeBatch — enforce CHECK
    // constraints on the landed epoch BEFORE it becomes visible (a
    // violation fails the epoch; its files stay invisible orphans)
    if (s0.meta.get.checks.nonEmpty && entries.nonEmpty)
      requireChecks(spark, readEntries(spark, root, s0.meta.get.schema, entries),
        s0.meta.get, "toTable epoch")
    // a lost race re-commits the same files on the winner's snapshot
    val heads = Iterator(s0) ++ Iterator.continually(snapshot(spark, root))
    retryOnConflict(maxRetries) {
      val s = heads.next()
      val meta = s.meta.get
      commitOrConflict(spark, root, "appendStreamEpoch", s.version + 1,
        meta.copy(txns = meta.txns + (appId -> epochId)), s.entries ++ entries)
    }
  }

  /** Transactional full-replace (INSERT OVERWRITE): commit a snapshot
    * whose live-file set is exactly `df`'s new batch — every previous
    * entry is dropped from the manifest (the files themselves stay until
    * [[vacuum]], so older versions still time-travel). Schema widens like
    * [[append]]'s; the partition column and stats columns carry over.
    * O(batch) like append — no existing file is read.
    */
  def overwrite(
      spark: SparkSession,
      root: String,
      df: DataFrame,
      maxRetries: Int = 3): MergeStats = retryOnConflict(maxRetries) {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.overwrite: no committed snapshot at $root")
    val meta = s0.meta.get
    val newFields = df.schema.filterNot(f => meta.schema.fieldNames.contains(f.name))
    val newMeta = meta.copy(schema = extendSchema(meta.schema, newFields.toSeq, highWater(meta)))
    requireNoExplicitIdentity(df, meta, "overwrite")
    // a lost race orphans the batch (vacuum reclaims it)
    val written = writeBatch(spark, root, align(df, newMeta.schema), newMeta)
    MergeStats(commitOrConflict(spark, root, "overwrite", s0.version + 1,
      advanceIdentityHw(newMeta, written), written), 0, 0, 0, written.size)
  }

  // ---- row-level DML ---------------------------------------------------
  //
  // One public entry per verb — [[delete]], [[update]], [[merge]] (key
  // upsert) and [[mergeClauses]] — and one shape under all four: pruned
  // probe → row fates ([[RowFates]], stated once per verb) → write step
  // → commit or rebase. The write step comes from the table, never the
  // caller: [[landFates]] reads `deleteMode` from the snapshot the
  // attempt starts on and either REWRITES the files holding a touched
  // row (`cow`) or tombstones the fired rows into deletion-vector
  // sidecars and appends their post-images (`mor`).
  // Every verb retries a lost race through [[retryOnConflict]] — the
  // recompute is REQUIRED for correctness, not just convenience: the
  // predicate / key probe re-evaluates against the winner's rows, so
  // sequential equivalence holds whichever writer lands first.

  /** The preamble every row-level verb shares: the snapshot the attempt
    * starts from and its metadata, refusing a table with no commit yet or
    * a caller that names the wrong partition column.
    */
  private def dmlSnapshot(
      spark: SparkSession,
      root: String,
      verb: String,
      partitionCol: String): (Snapshot, TableMeta) = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.$verb: no committed snapshot at $root")
    val meta = s0.meta.get
    require(meta.partitionCol == partitionCol,
      s"LakeTable.$verb: table is partitioned by ${meta.partitionCol}, not $partitionCol")
    (s0, meta)
  }

  /** A verb that found nothing to change: no commit, head unchanged. */
  private def unchanged(s0: Snapshot, probed: Int): MergeStats =
    MergeStats(s0.version, 0, 0, s0.entries.size, 0, filesProbed = probed)

  /** File-level pruner for a row predicate ([[delete]], [[update]],
    * [[optimize]]'s WHERE, the merge key probe [[keyProbePruner]],
    * [[readPoint]] and [[readRange]]): TRUE = the file may hold a
    * matching row. The scan's own [[LakeFileIndex.entryFilter]], so every
    * statement prunes the files a SELECT with the same WHERE would read.
    */
  private[graft] def predicateFilePruner(
      spark: SparkSession,
      root: String,
      meta: TableMeta,
      predicate: Column): Entry => Boolean =
    new LakeFileIndex(spark, root, meta, Nil).entryFilter(LakeFileIndex.resolvedConjuncts(
      spark, meta.schema, GraftColumnBridge.expression(spark, predicate)))

  /** The target rows of a row-level statement where the write step needs
    * positions (tombstones, the touched-file fold): the live rows of `es`
    * with their scan position — `__file` (the RAW url-encoded
    * path; [[fileKeys]] and the sidecar tasks decode it to the manifest's
    * suffix key) and `__pos` (the row index). Files are read directly, not
    * via readEntries (the position metadata must be requested on the scan
    * itself), with existing DVs applied through the same keep filter —
    * already-dead positions never reach a fate, so re-deleting is
    * naturally idempotent. None when `es` is empty.
    */
  private def positionalScan(
      spark: SparkSession,
      root: String,
      meta: TableMeta,
      es: Seq[Entry]): Option[DataFrame] = {
    val (dvd, clean) = es.partition(_.dv.isDefined)
    def withPos(files: Seq[Entry], applyDv: Boolean): Option[DataFrame] =
      if (files.isEmpty) None
      else {
        val df = spark.read.schema(meta.schema)
          .parquet(files.map(e => s"${dataRoot(root)}/${e.rel}"): _*)
        val kept = if (applyDv) df.where(dvKeepColumn(spark, root, files)) else df
        Some(kept.withColumns(Map(
          "__file" -> col("_metadata.file_path"),
          "__pos" -> col("_metadata.row_index"))))
      }
    (withPos(clean, applyDv = false).toSeq ++ withPos(dvd, applyDv = true).toSeq)
      .reduceOption(_.unionByName(_))
  }

  /** Distributed DV sidecar publication for the positional rows `hits`
    * (`__file`, `__pos`): the positions aggregate DISTRIBUTEDLY into one
    * bitmap per file ([[PosBitmapAgg]]: partial bitmaps per scan task,
    * bitmap-OR merge, one compressed row per touched file crosses the
    * shuffle), and each file's sidecar is written by a TASK — the driver
    * receives only (file-key, sidecar rel, dead cardinality) triples,
    * never bitmap bytes, so a mass MOR delete touching millions of files
    * holds driver memory flat. Each task unions the file's new dead
    * positions with its existing vector (rel paths broadcast — metadata-
    * sized) and publishes an immutable sidecar via [[Dv.writeFrom]]'s
    * temp-rename commit; failed/speculative attempts leave only
    * unreferenced orphans for vacuum's `dv/` sweep.
    */
  private def publishDvSidecars(
      spark: SparkSession,
      root: String,
      hits: DataFrame,
      probeEntries: Seq[Entry]): Array[(String, String, Long)] = {
    import spark.implicits._
    val posAgg = GraftColumnBridge.column(
      PosBitmapAgg(exprOf(col("__pos"))).toAggregateExpression())
    val conf = new org.apache.spark.util.SerializableConfiguration(
      spark.sparkContext.hadoopConfiguration)
    val bEx = spark.sparkContext.broadcast(
      probeEntries.flatMap(e => e.dv.map(d => Dv.suffixKey(e.rel) -> d.rel)).toMap)
    try hits.groupBy(col("__file")).agg(posAgg.as("__bm"))
      .select(col("__file"), col("__bm")).as[(String, Array[Byte])]
      .mapPartitions { it =>
        it.map { case (file, bytes) =>
          val key = Dv.suffixKey(Dv.decodeUrlPath(file))
          val bm = Dv.deserialize(bytes)
          bEx.value.get(key).foreach(d => bm.or(Dv.read(conf.value, s"${dataRoot(root)}/$d")))
          (key, Dv.writeFrom(conf.value, dataRoot(root), bm), bm.getLongCardinality)
        }
      }.collect()
    finally bEx.destroy()
  }

  /** The tail every row-level verb and OPTIMIZE share: commit `s0`
    * minus `removed` plus `written` as version s0+1 — a `kept` entry (a
    * MOR file with its grown deletion vector) takes its original's place
    * in the manifest.
    * A lost race first tries the metadata-only [[rebaseCommit]]; when
    * that is unsound the attempt throws [[CommitConflict]] and
    * [[retryOnConflict]] recomputes it on the winner's snapshot.
    * `preCommit` runs just before the commit — the deterministic
    * injection point the specs use to land a rival writer mid-statement
    * (a real race hits the same rename).
    */
  private def landDml(
      spark: SparkSession,
      root: String,
      verb: String,
      s0: Snapshot,
      meta: TableMeta,
      removed: Seq[Entry],
      kept: Seq[Entry],
      written: Seq[Entry],
      matchedParts: Long,
      probed: Long,
      mayMatch: Entry => Boolean,
      dvMerge: Boolean,
      preCommit: () => Unit): MergeStats = {
    val keptByRel = kept.map(e => e.rel -> e).toMap
    val removedRels = removed.map(_.rel).toSet
    val entries = s0.entries.flatMap(e =>
      keptByRel.get(e.rel).orElse(if (removedRels.contains(e.rel)) None else Some(e))) ++ written
    preCommit()
    val landed: Long =
      if (commit(spark, root, s0.version + 1, meta, entries)) s0.version + 1
      else rebaseCommit(spark, root, s0, meta, removed, kept ++ written, mayMatch,
        dvMerge = dvMerge)
        .getOrElse(throw new CommitConflict(
          s"LakeTable.$verb: concurrent commit at $root (retry on a fresh snapshot)"))
    MergeStats(landed, matchedParts, removed.size, s0.entries.size - removed.size,
      written.size, filesProbed = probed)
  }

  /** What a write step lands ([[landDml]]'s arguments): `removed`
    * entries leave the manifest, `kept` ones (a MOR file with its grown
    * deletion vector) take their original's place, `written` append,
    * under `meta`. `dvMerge` lets the metadata-only rebase merge vectors.
    */
  private case class Landing(
      removed: Seq[Entry],
      kept: Seq[Entry],
      written: Seq[Entry],
      meta: TableMeta,
      dvMerge: Boolean)

  /** One statement's row fates, stated once for both write steps. `rows`
    * builds the fate frame from the live target rows of a set of probed
    * files (None: no file) — MERGE joins them with the source — and the
    * columns below evaluate over it:
    *
    *   - `fired`: the statement deletes or rewrites this target row (NULL
    *     does not fire). The write step binds it as `__fired`, which
    *     `post` may read.
    *   - `keep`: a fired row's post-image survives (None: none does —
    *     DELETE).
    *   - `insert`: a source row to insert (None: the verb inserts none).
    *   - `post`: the post-image, one column per table column (an unfired
    *     row's own values);
    *   - `target`: the row is a target row (FALSE: a MERGE source row).
    *
    * The write step reads the target rows through [[positionalScan]]
    * (`__file`, `__pos`) where it needs positions — tombstones and the
    * touched-file fold — and through a plain scan for a COW rewrite.
    * `touched` overrides the rows whose file a COW rewrite replaces (by
    * default the fired ones; MERGE's are the rows whose key hits a source
    * key, so the rewrite's own join still sees an unfired matched row as
    * matched). `assigned` names the columns the statement sets (the other
    * GENERATED columns recompute); `layoutStable` says every row keeps its
    * partition value.
    */
  private case class RowFates(
      probeEntries: Seq[Entry],
      mayMatch: Entry => Boolean,
      rows: Option[DataFrame] => Option[DataFrame],
      fired: Column,
      keep: Option[Column],
      insert: Option[Column],
      post: Seq[Column],
      assigned: Set[String],
      layoutStable: Boolean,
      target: Column = lit(true),
      touched: Option[Seq[Entry] => Option[DataFrame]] = None) {

    /** The fate frame over `targetRows` with `__fired`, `__keep` and
      * `__ins` bound.
      */
    def flagged(targetRows: Option[DataFrame]): Option[DataFrame] =
      rows(targetRows).map(_.withColumns(Map(
        "__fired" -> fired,
        "__keep" -> keep.getOrElse(lit(false)),
        "__ins" -> insert.getOrElse(lit(false)))))
  }

  /** The write step every row-level verb ends in — the one place the
    * table's `deleteMode` is read: `cow` rewrites ([[rewriteFates]]),
    * `mor` tombstones ([[tombstoneFates]]). A statement that rewrites or
    * tombstones no file, writes nothing and leaves the metadata as it was
    * commits nothing on either mode (a re-issued DELETE, a MERGE with an
    * empty source); a matview refresh always commits, its watermark stamp
    * changes the metadata.
    */
  private def landFates(
      spark: SparkSession,
      root: String,
      verb: String,
      s0: Snapshot,
      meta: TableMeta,
      f: RowFates,
      preCommit: () => Unit): MergeStats = {
    val l =
      if (meta.deleteMode == "mor") tombstoneFates(spark, root, s0, meta, f)
      else rewriteFates(spark, root, meta, f)
    if (l.removed.isEmpty && l.written.isEmpty && s0.meta.contains(l.meta))
      unchanged(s0, f.probeEntries.size)
    else landDml(spark, root, verb, s0, l.meta, l.removed, l.kept, l.written,
      l.removed.map(_.part).distinct.size, f.probeEntries.size, f.mayMatch, l.dvMerge, preCommit)
  }

  /** The files holding a row of `rows`, as [[Dv.suffixKey]]s of its
    * `__file` column (the key the MOR step names sidecars by): one
    * mapPartitions fold, no shuffle.
    */
  private def fileKeys(rows: DataFrame): Set[String] =
    rows.select(col("__file")).queryExecution.toRdd
      .mapPartitions { it =>
        val acc = scala.collection.mutable.HashSet.empty[String]
        it.foreach(r => acc += r.getUTF8String(0).toString)
        Iterator.single(acc.toSet)
      }.fold(Set.empty[String])(_ ++ _)
      .map(f => Dv.suffixKey(Dv.decodeUrlPath(f)))

  /** The `cow` write step: the probed files holding a touched row are
    * rewritten from the fate frame over those files alone — unfired rows
    * as they are, fired rows' surviving post-images, the inserts — and
    * every other file carries by path. A rewrite of a DV'd file also
    * materializes its vector (the scan applies it).
    */
  private def rewriteFates(
      spark: SparkSession,
      root: String,
      meta: TableMeta,
      f: RowFates): Landing = {
    val touched = f.touched.fold(f.rows(positionalScan(spark, root, meta, f.probeEntries))
      .map(_.where(f.fired)))(_(f.probeEntries))
    val hit = touched.fold(Set.empty[String])(fileKeys)
    val rewrite = f.probeEntries.filter(e => hit.contains(Dv.suffixKey(e.rel)))
    val live = (f.target && (!coalesce(col("__fired"), lit(false)) || col("__keep"))) ||
      col("__ins")
    val scan = if (rewrite.isEmpty) None else Some(readEntries(spark, root, meta.schema, rewrite))
    val written = f.flagged(scan).fold(Seq.empty[Entry])(r =>
      writeBatch(spark, root, regenerate(r.where(live).select(f.post: _*), meta, f.assigned),
        meta,
        // rows that keep their partition value are partition-aligned as
        // read: skip the write shuffle. Only sound when every rewritten
        // file carries the CURRENT spec — a pre-evolution file re-
        // partitions under the new one
        preserveLayout = f.layoutStable && rewrite.forall(_.spec == meta.currentSpec)))
    Landing(rewrite, Nil, written,
      if (f.insert.isDefined) advanceIdentityHw(meta, written) else meta, dvMerge = false)
  }

  /** The `mor` write step: fired rows tombstone into DV sidecars
    * ([[publishDvSidecars]]) and the surviving post-images plus the
    * inserts append as one new batch, in one commit — O(changed rows)
    * written, no data file rewritten. Every file a sidecar names gains
    * (or extends) its deletion vector — a file whose every row is dead
    * drops from the manifest instead (no tombstone chains; its
    * just-published sidecar is an unreferenced orphan for vacuum's `dv/`
    * sweep). "Rewritten" in the stats counts the files that gained a
    * vector: metadata only, zero data bytes moved. The metadata-only
    * rebase may merge vectors (`dvMerge`) only without inserts: a
    * winner's tombstone on a row we matched but did not fire flips that
    * source row to NOT MATCHED, which position disjointness cannot see.
    */
  private def tombstoneFates(
      spark: SparkSession,
      root: String,
      s0: Snapshot,
      meta: TableMeta,
      f: RowFates): Landing = {
    val writes = f.keep.isDefined || f.insert.isDefined
    val probed = positionalScan(spark, root, meta, f.probeEntries)
    f.flagged(probed).fold(Landing(Nil, Nil, Nil, meta, dvMerge = false)) { r =>
      val fated = r.where(col("__fired") || col("__ins"))
      val work = if (writes) fated.persist() else fated
      try {
        val sidecars =
          if (probed.isEmpty) Array.empty[(String, String, Long)]
          else publishDvSidecars(spark, root, work.where(col("__fired")), f.probeEntries)
        lazy val post = work.where(col("__ins") || (col("__fired") && col("__keep")))
          .select(f.post: _*)
        val written =
          if (!writes || (f.insert.isEmpty && sidecars.isEmpty) ||
            (f.insert.isDefined && post.isEmpty)) Nil
          else writeBatch(spark, root, regenerate(post, meta, f.assigned), meta)
        val byKey = f.probeEntries.map(e => Dv.suffixKey(e.rel) -> e).toMap
        val dvd: Map[String, Option[Entry]] = sidecars.iterator.map { case (key, rel, card) =>
          val e = byKey(key)
          e.rel -> (if (e.rows.contains(card)) None else Some(e.copy(dv = Some(DvRef(rel, card)))))
        }.toMap
        val removed = s0.entries.filter(e => dvd.contains(e.rel))
        Landing(removed, removed.flatMap(e => dvd(e.rel)), written,
          if (f.insert.isDefined) advanceIdentityHw(meta, written) else meta,
          dvMerge = f.insert.isEmpty)
      } finally if (writes) work.unpersist()
    }
  }

  /** Transactional DELETE: remove every row where `predicate` is TRUE
    * (SQL DELETE semantics — NULL-predicate rows are KEPT). The
    * compliance face of the lake path: opt-out and contamination
    * removals on a training corpus must actually remove the bytes, not
    * just filter at read time (a `mor` delete's bytes go at the next
    * OPTIMIZE). The probe is manifest-pruned (partition values, min/max
    * stats and Blooms rule out files that provably hold no match, see
    * [[predicateFilePruner]]), then:
    *
    *   - `cow`: only files CONTAINING a match are rewritten; every other
    *     file carries by path. A re-issued delete commits nothing
    *     (idempotent); a delete that removes every row commits a
    *     legitimately-empty snapshot — the manifest's recorded schema
    *     keeps the table readable and mergeable.
    *   - `mor`: matched rows are recorded as dead POSITIONS in per-file
    *     [[Dv]] bitmap sidecars — no data file is read-rewritten, so a
    *     sparse delete over a 100 TB table commits in O(matched rows)
    *     instead of O(touched gigabytes) (see [[publishDvSidecars]]). A
    *     delete that matches nothing commits nothing.
    */
  def delete(
      spark: SparkSession,
      root: String,
      predicate: Column,
      partitionCol: String,
      maxRetries: Int = 3,
      preCommit: () => Unit = () => ()): MergeStats =
    retryOnConflict(maxRetries) {
      val (s0, meta) = dmlSnapshot(spark, root, "delete", partitionCol)
      val mayDelete = predicateFilePruner(spark, root, meta, predicate)
      landFates(spark, root, "delete", s0, meta, RowFates(
        s0.entries.filter(mayDelete), mayDelete, identity,
        fired = predicate, keep = None, insert = None,
        post = meta.schema.fieldNames.toSeq.map(n => col(s"`$n`")),
        assigned = Set.empty, layoutStable = true), preCommit)
    }

  /** Transactional UPDATE: rows where `predicate` is TRUE get the `set`
    * assignments applied (SQL UPDATE semantics — NULL-predicate rows
    * keep their values; all assignments evaluate against the PRE-update
    * row, so `SET a = b, b = a` swaps). Assignment values are cast to
    * the column's declared type, GENERATED columns recompute, and CHECK
    * constraints validate the updated rows before anything commits. The
    * probe is pruned like [[delete]]'s, then:
    *
    *   - `cow`: files holding a match are rewritten and committed
    *     atomically — one commit, unlike a delete+append emulation, so a
    *     crash can never lose the updated rows. Assigning the partition
    *     column moves rows between partitions (the write path
    *     re-partitions the rewritten files).
    *   - `mor`: matched LIVE rows are tombstoned by position (DV
    *     sidecars, [[delete]]'s shape) and their updated copies append
    *     as a NEW batch in the same commit, so the write cost is
    *     O(matched rows), not O(touched files) — unmatched rows of a
    *     touched file are never rewritten (the Delta DV-update shape).
    */
  def update(
      spark: SparkSession,
      root: String,
      predicate: Column,
      set: Map[String, Column],
      partitionCol: String,
      maxRetries: Int = 3,
      preCommit: () => Unit = () => ()): MergeStats =
    retryOnConflict(maxRetries) {
      val (s0, meta) = dmlSnapshot(spark, root, "update", partitionCol)
      set.keys.foreach(c => require(meta.schema.fieldNames.contains(c),
        s"LakeTable.update: SET column $c not in table schema"))
      requireNoIdentitySet(meta, set.keys, "update")
      val mayMatch = predicateFilePruner(spark, root, meta, predicate)
      landFates(spark, root, "update", s0, meta, RowFates(
        s0.entries.filter(mayMatch), mayMatch, identity,
        fired = predicate, keep = Some(lit(true)), insert = None,
        // assignments evaluate against the PRE-update row
        post = meta.schema.toSeq.map { fld =>
          val old = col(s"`${fld.name}`")
          set.get(fld.name).fold(old)(v =>
            when(col("__fired"), v.cast(fld.dataType)).otherwise(old).as(fld.name))
        },
        assigned = set.keySet,
        // the SET (or a regeneration it triggers) may move a row only
        // when it reaches the partition source column
        layoutStable = !set.keySet.contains(meta.partitionCol) &&
          generatedOf(meta.schema).forall(_._1 != meta.partitionCol)), preCommit)
    }

  /** MERGE INTO: rows of `source` matching target rows on `keyCols`
    * replace them (source wins); unmatched source rows are inserted.
    * Source columns the table lacks evolve the schema (see class doc),
    * and columns the source lacks become NULL. The clause merge
    * ([[mergeClauses]]'s fate frame) with one unconditional UPDATE-all
    * and one INSERT-all clause: `cow` rewrites only files holding a
    * matched key, `mor` tombstones the matched rows and appends their
    * post-images. A matched row keeps its identity values.
    */
  def merge(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCols: Seq[String],
      partitionCol: String,
      maxRetries: Int = 3,
      preCommit: () => Unit = () => ()): MergeStats =
    retryOnConflict(maxRetries) {
      val (s0, meta) = dmlSnapshot(spark, root, "merge", partitionCol)
      // schema evolution: columns only the source has widen the table
      val newFields = source.schema.filterNot(f => meta.schema.fieldNames.contains(f.name))
      val outMeta = meta.copy(schema = extendSchema(meta.schema, newFields.toSeq, highWater(meta)))
      // upsert source rows are an insert funnel: GENERATED ALWAYS AS
      // IDENTITY values may not arrive from outside
      requireNoExplicitIdentity(source, outMeta, "merge")
      val withS = source.columns.foldLeft(source)((d, c) => d.withColumn("__s_" + c, col(c)))
      def assign(c: String) = c ->
        (if (source.columns.contains(c)) col("__s_" + c) else lit(null))
      // identity columns: a matched row keeps its value (SET on them is
      // refused); an insert takes a BY DEFAULT value the source carries
      // and otherwise leaves the cell NULL for writeBatch to allocate
      val idents = identityOf(outMeta.schema).map(_._1).toSet
      val plain = outMeta.schema.fieldNames.filterNot(idents.contains)
      val byDefault = identityOf(outMeta.schema).filter(_._4).map(_._1)
        .filter(source.columns.contains)
      val matched = Seq(MergeBranch(None, Some(plain.map(assign).toMap)))
      val inserted = Seq(MergeBranch(None, Some((plain ++ byDefault).map(assign).toMap)))
      landMerge(spark, root, "merge", s0, outMeta, withS, keyCols, matched, inserted, Nil,
        nullSafeKeys = false, preCommit)
    }

  /** Merges that landed via the lost-commit REBASE fast path (spec
    * observability: the contention case asserts zero recomputes).
    */
  private[graft] val mergeRebases = new java.util.concurrent.atomic.AtomicLong(0L)

  /** File-level CONFLICT DETECTION for a lost commit (the Delta-style
    * logical check): instead of recomputing the whole statement against
    * the winner's snapshot, re-commit its entry delta ON TOP of it when
    * sequential equivalence provably holds —
    *
    *   1. table METADATA is untouched on both sides (our op changed
    *      none; the winner changed none),
    *   2. every file we rewrote is still present BYTE-IDENTICAL at
    *      head (the winner did not touch our read set), and
    *   3. the winner's new/changed files provably hold NONE of our
    *      batch keys or predicate matches (`mayMatch`: the same
    *      [[predicateFilePruner]] filter that pruned our scan,
    *      metadata-only) — so a sequential run would have classified
    *      them as carry.
    *
    * Any failed condition returns None and the caller recomputes (the
    * correctness-required path — the winner's rows must then re-enter
    * the probe). Under real disjoint-writer contention this turns N
    * serialized recomputes into N-1 metadata-only re-commits.
    *
    * `dvMerge` (MOR verbs only) relaxes condition 2 at ROW granularity:
    * when the winner touched one of our files but ONLY its deletion
    * vector, and the two ops' NEW tombstone position sets are DISJOINT,
    * sequential equivalence still holds — the loser re-commits with
    * `bitmap_winner OR bitmap_ours` instead of recomputing (two racing
    * MOR writers tombstoning different rows of the SAME file are the
    * common GDPR/decontamination contention shape; file-level checking
    * would serialize them through full recomputes). Overlapping position
    * sets, a dropped file, or any non-DV drift still recompute: a row
    * both ops touched means the loser's postimages/fates were computed
    * against state the winner changed.
    */
  private def rebaseCommit(
      spark: SparkSession,
      root: String,
      base: Snapshot,
      ourMeta: TableMeta,
      removed: Seq[Entry],
      written: Seq[Entry],
      mayMatch: Entry => Boolean,
      maxRebases: Int = 5,
      dvMerge: Boolean = false): Option[Long] = {
    if (ourMeta != base.meta.get) return None // our op changed metadata
    val removedRels = removed.map(_.rel).toSet
    val baseByRel = base.entries.map(e => e.rel -> e).toMap
    val writtenByRel = written.map(e => e.rel -> e).toMap
    val conf = spark.sparkContext.hadoopConfiguration
    var tries = maxRebases
    while (tries > 0) {
      tries -= 1
      val head = snapshot(spark, root)
      if (head.meta.get != base.meta.get) return None
      val headByRel = head.entries.map(e => e.rel -> e).toMap
      // rels of our read set whose head entry drifted from base
      val drifted = removed.filter(e => !headByRel.get(e.rel).contains(e))
      val patched: Map[String, Option[Entry]] =
        if (drifted.isEmpty) Map.empty
        else if (!dvMerge) return None
        else drifted.map { r =>
          val h = headByRel.getOrElse(r.rel, return None) // file vanished at head
          // our op must have kept the file (a fully-dead drop's position
          // set spans every live row — never disjoint from real drift)
          val w = writtenByRel.getOrElse(r.rel, return None)
          // both sides may differ from base ONLY in the deletion vector
          if (h.copy(dv = r.dv) != r || w.copy(dv = r.dv) != r) return None
          def bm(d: Option[DvRef]): org.roaringbitmap.longlong.Roaring64Bitmap =
            d.fold(new org.roaringbitmap.longlong.Roaring64Bitmap())(x =>
              Dv.read(conf, s"${dataRoot(root)}/${x.rel}"))
          val (bmBase, bmHead, bmOurs) = (bm(r.dv), bm(h.dv), bm(w.dv))
          val winNew = bmHead.clone(); winNew.andNot(bmBase)
          val ourNew = bmOurs.clone(); ourNew.andNot(bmBase)
          val overlap = winNew.clone(); overlap.and(ourNew)
          // OVERLAPPING positions are sound iff the delta is PURE
          // tombstoning (no appended postimages/inserts anywhere in it):
          // a tombstone's effect is exactly "these positions are dead",
          // and the union of two such effects IS their sequential
          // composition in either order — re-deleting dead rows is
          // idempotent. A delta carrying new rows must recompute: its
          // postimages were derived from rows the winner killed.
          val pureAdds = written.exists(e => !removedRels.contains(e.rel))
          if (!overlap.isEmpty && pureAdds) return None
          val residual = ourNew.clone(); residual.andNot(bmHead)
          if (residual.isEmpty) r.rel -> Some(h) // all ours already dead at head
          else {
            bmHead.or(ourNew)
            val card = bmHead.getLongCardinality
            r.rel -> (
              if (r.rows.contains(card)) None // now fully dead -> drop
              else Some(h.copy(dv = Some(DvRef(
                Dv.writeFrom(conf, dataRoot(root), bmHead), card)))))
          }
        }.toMap
      val winnersNew = head.entries.filterNot(e =>
        baseByRel.get(e.rel).contains(e) || patched.contains(e.rel))
      if (winnersNew.exists(mayMatch)) return None
      val effWritten = written.flatMap(e =>
        if (patched.contains(e.rel)) patched(e.rel) else Some(e))
      val rebased = head.entries.filterNot(e => removedRels.contains(e.rel)) ++ effWritten
      if (commit(spark, root, head.version + 1, ourMeta, rebased)) {
        mergeRebases.incrementAndGet()
        return Some(head.version + 1)
      }
    }
    None
  }

  /** One WHEN clause of a general MERGE: `condition` (None =
    * unconditional) over the joined row — target columns under their
    * plain names, source columns under `__s_<name>` — and `values`
    * (None = DELETE / skip-insert; Some = UPDATE/INSERT assignments,
    * possibly partial: unassigned columns keep the target value for
    * matched / by-source clauses and become NULL for inserts).
    */
  case class MergeBranch(condition: Option[Column], values: Option[Map[String, Column]])

  // ---- merge clause chains (Delta semantics: first clause whose
  // condition passes wins; a NULL condition does not fire) -------------

  private def fire(b: MergeBranch): Column = b.condition.getOrElse(lit(true))

  /** TRUE iff any clause of the family fires for this row. */
  private def firedChain(branches: Seq[MergeBranch]): Column =
    branches.foldRight(lit(false))((b, acc) => when(fire(b), lit(true)).otherwise(acc))

  /** Whether the row survives: the first firing clause's keep/drop
    * (UPDATE/INSERT keep, DELETE drops); `default` when none fires.
    */
  private def keepChain(branches: Seq[MergeBranch], default: Column): Column =
    branches.foldRight(default)((b, acc) =>
      when(fire(b), lit(b.values.isDefined)).otherwise(acc))

  /** The post-merge value of column `name`: the first firing clause's
    * assignment (`unassigned` when that clause does not set it),
    * `noneFired` when no clause fires.
    */
  private def valueChain(
      branches: Seq[MergeBranch],
      name: String,
      unassigned: Column,
      noneFired: Column): Column =
    branches.foldRight(noneFired)((b, acc) =>
      when(fire(b), b.values.flatMap(_.get(name)).getOrElse(unassigned)).otherwise(acc))

  /** Shared identity-column gates for clause merges: UPDATE-shaped
    * branches may never SET an identity column; INSERT branches may
    * assign a GENERATED ALWAYS AS IDENTITY column never.
    */
  private def requireMergeIdentityGates(
      meta: TableMeta,
      updating: Seq[MergeBranch],
      inserting: Seq[MergeBranch],
      op: String): Unit = {
    requireNoIdentitySet(meta, updating.flatMap(_.values).flatMap(_.keys), op)
    identityOf(meta.schema).filterNot(_._4).foreach { case (c, _, _, _) =>
      if (inserting.exists(_.values.exists(_.contains(c))))
        throw new IllegalArgumentException(
          s"graft-lake $op: $c is GENERATED ALWAYS AS IDENTITY — INSERT " +
            "branches must omit the column")
    }
  }

  /** The key-match condition between the target (`t`) and source (`s`)
    * aliases: SQL `=` by default, `<=>` for a null-safe merge.
    */
  private def keyMatch(keyCols: Seq[String], nullSafeKeys: Boolean, t: String, s: String): Column =
    keyCols.map { k =>
      if (nullSafeKeys) col(s"$t.`$k`") <=> col(s"$s.`$k`")
      else col(s"$t.`$k`") === col(s"$s.`$k`")
    }.reduce(_ && _)

  /** General MERGE with Delta-semantics clause lists (first matching
    * clause wins; a row matching no clause of its family is kept
    * unchanged if it is a target row and dropped if it is an unmatched
    * source row). Supports conditional `WHEN MATCHED [AND cond] THEN
    * UPDATE/DELETE`, conditional `WHEN NOT MATCHED THEN INSERT`, and
    * `WHEN NOT MATCHED BY SOURCE THEN UPDATE/DELETE`.
    *
    * `source` must carry every source column renamed `__s_<name>` plus,
    * for each target key column `k`, a plain column `k` holding the ON
    * expression's value (the join/probe key). SQL NULL semantics
    * throughout: `=` join keys never match NULL, a NULL clause condition
    * does not fire, and later clauses are then consulted.
    *
    * One full-outer join between the probed target rows and the source
    * decides every row's fate; files that provably hold no source key
    * (stats/Bloom key probe) are neither read nor written. With
    * NOT-MATCHED-BY-SOURCE clauses every target row's fate depends on
    * the join, so the probe reads the whole table.
    *
    *   - `cow`: the files holding a matched row (or a fired by-source
    *     row) are rewritten; every other file carries by path.
    *   - `mor`: fired rows TOMBSTONE into DV sidecars ([[delete]]'s
    *     shape) and their post-images plus the NOT MATCHED inserts
    *     APPEND as a new batch, all in ONE commit — a CDC-apply MERGE
    *     touching 0.1% of the rows per file writes O(matched) bytes
    *     instead of rewriting every file holding a match. Matched-but-
    *     unfired and unmatched target rows never move, so even a nightly
    *     full-sync CDC apply (upsert + delete-the-rest) on a 100 TB table
    *     writes only the day's churn. OPTIMIZE later materializes the
    *     vectors away.
    */
  def mergeClauses(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCols: Seq[String],
      matched: Seq[MergeBranch],
      notMatched: Seq[MergeBranch],
      notMatchedBySource: Seq[MergeBranch] = Nil,
      partitionCol: String,
      // committed ATOMICALLY with the data change — a derived-table
      // refresh records the source version it applied in the same
      // manifest swap, so a crash can never leave the delta applied
      // but unrecorded (or vice versa); re-run on every retry snapshot
      metaUpdate: TableMeta => TableMeta = identity,
      // `<=>` key matching: a NULL key matches a NULL key (GROUP BY
      // semantics — NULL is a real group). Required by MatView, whose
      // group keys may be NULL; the default stays SQL MERGE's `=`.
      nullSafeKeys: Boolean = false,
      maxRetries: Int = 3,
      preCommit: () => Unit = () => ()): MergeStats =
    mergeClausesChecked(spark, root, source, keyCols, matched, notMatched, notMatchedBySource,
      partitionCol, metaUpdate, nullSafeKeys, maxRetries, preCommit, _ => ())

  /** [[mergeClauses]] that runs `sourceCheck` (SQL MERGE's cardinality
    * check) on the persisted source before anything is written — after
    * the key fold, whose job builds the source's cache, so the check
    * reads the cache instead of building it in a job of its own.
    */
  private[graft] def mergeClausesChecked(
      spark: SparkSession,
      root: String,
      source: DataFrame,
      keyCols: Seq[String],
      matched: Seq[MergeBranch],
      notMatched: Seq[MergeBranch],
      notMatchedBySource: Seq[MergeBranch],
      partitionCol: String,
      metaUpdate: TableMeta => TableMeta,
      nullSafeKeys: Boolean,
      maxRetries: Int,
      preCommit: () => Unit,
      sourceCheck: DataFrame => Unit): MergeStats =
    retryOnConflict(maxRetries) {
      val (s0, meta0) = dmlSnapshot(spark, root, "mergeClauses", partitionCol)
      val meta = metaUpdate(meta0)
      notMatched.foreach(b => require(b.values.isDefined,
        "LakeTable.mergeClauses: NOT MATCHED clauses must INSERT"))
      // identity invariants: UPDATE branches may never SET an identity
      // column, and INSERT branches may assign a GENERATED ALWAYS AS
      // IDENTITY column never (BY DEFAULT may) — same gates as
      // update()/append(), enforced statically on the clause shapes
      requireMergeIdentityGates(meta, matched ++ notMatchedBySource, notMatched, "mergeClauses")
      landMerge(spark, root, "mergeClauses", s0, meta, source, keyCols,
        matched, notMatched, notMatchedBySource, nullSafeKeys, preCommit, sourceCheck)
    }

  /** The fates of a clause merge ([[merge]] and [[mergeClauses]]) and
    * their write step; `meta` carries any evolved schema or metaUpdate.
    */
  private def landMerge(
      spark: SparkSession,
      root: String,
      verb: String,
      s0: Snapshot,
      meta: TableMeta,
      source: DataFrame,
      keyCols: Seq[String],
      matched: Seq[MergeBranch],
      notMatched: Seq[MergeBranch],
      notMatchedBySource: Seq[MergeBranch],
      nullSafeKeys: Boolean,
      preCommit: () => Unit,
      sourceCheck: DataFrame => Unit = _ => ()): MergeStats = {
    // the source feeds the key fold, the probe, the touched-file probe
    // and the fate join — for an expensive source (a matview refresh's
    // signed-delta aggregate) each evaluation would recompute it. Persist
    // it for THIS statement only: batch-sized by construction (the merge
    // input, never the table), released before returning.
    val (src, releaseSrc) = persistForStatement(source)
    try {
      val srcKeys = src.select(keyCols.map(col): _*).distinct()
      // candidate files: the key probe is conservative-COMPLETE (every
      // file that could hold a source key survives it), so a source row
      // unmatched within the probe set is unmatched in the whole table —
      // the NOT MATCHED classification needs no full scan. By-source
      // clauses invert the question (which TARGET rows have no source
      // match?): every live row must reach the join, so the probe widens
      // to all files. A null-safe NULL key lies outside every min/max
      // bound, so a null-safe merge whose source carries one probes every
      // file too; one fold yields null presence and the bounds.
      val mayMatch =
        if (notMatchedBySource.nonEmpty) (_: Entry) => true
        else {
          val (bounds, keyHasNull) =
            foldKeyInfo(src, if (nullSafeKeys) keyCols else probeCols(meta, srcKeys.schema))
          if (nullSafeKeys && keyHasNull) (_: Entry) => true
          else keyProbePruner(spark, root, meta, srcKeys, bounds)
        }
      sourceCheck(src)
      val srcCols = src.columns.filter(_.startsWith("__s_")).toSeq
      def rows(targetRows: Option[DataFrame]): Option[DataFrame] = Some(targetRows match {
        case Some(tdf) =>
          tdf.withColumn("__thit", lit(true)).as("t")
            .join(
              src.withColumn("__shit", lit(true)).as("s"),
              keyMatch(keyCols, nullSafeKeys, "t", "s"),
              "full_outer")
            .select(
              tdf.columns.toSeq.map(c => col(s"t.`$c`").as(c)) ++
                srcCols.map(c => col(s"s.`$c`")) ++
                Seq(
                  coalesce(col("t.__thit"), lit(false)).as("__thit"),
                  coalesce(col("s.__shit"), lit(false)).as("__shit")): _*)
        case None => // no candidate files: every source row is unmatched
          src.select(
            meta.schema.map(f => lit(null).cast(f.dataType).as(f.name)) ++
              srcCols.map(col) ++
              Seq(lit(false).as("__thit"), lit(true).as("__shit")): _*)
      })
      val isM = col("__thit") && col("__shit")
      val isS = !col("__thit") && col("__shit")
      val isB = col("__thit") && !col("__shit")
      val fired = (isM && firedChain(matched)) || (isB && firedChain(notMatchedBySource))
      landFates(spark, root, verb, s0, meta, RowFates(
        s0.entries.filter(mayMatch), mayMatch, rows,
        fired = fired,
        keep = Some(when(isM, keepChain(matched, lit(true)))
          .otherwise(keepChain(notMatchedBySource, lit(true)))),
        insert =
          if (notMatched.isEmpty) None else Some(isS && keepChain(notMatched, lit(false))),
        post = meta.schema.toSeq.map { f =>
          val nul = lit(null).cast(f.dataType)
          val own = col(s"`${f.name}`")
          when(isS, valueChain(notMatched, f.name, nul, nul))
            .when(isM, valueChain(matched, f.name, own, own))
            .otherwise(valueChain(notMatchedBySource, f.name, own, own))
            .cast(f.dataType).as(f.name)
        },
        assigned = (matched ++ notMatched ++ notMatchedBySource)
          .flatMap(_.values).flatMap(_.keys).toSet,
        layoutStable = false,
        target = col("__thit"),
        // COW rewrites every file holding a MATCHED row (fired or not —
        // the rewrite's own join must still see it matched), found by
        // probing the broadcast source keys; by-source clauses add the
        // fired unmatched rows
        touched = Some(es =>
          if (notMatchedBySource.isEmpty)
            positionalScan(spark, root, meta, es).map(_.as("t")
              .join(broadcast(srcKeys).as("k"), keyMatch(keyCols, nullSafeKeys, "t", "k"),
                "left_semi"))
          else rows(positionalScan(spark, root, meta, es))
            .map(_.where(col("__thit") && (col("__shit") || fired))))),
        preCommit)
    } finally releaseSrc()
  }

  // ---- OPTIMIZE (compaction) -----------------------------------------

  /** Transactional compaction: every partition currently holding at
    * least `minFilesPerPartition` files is rewritten into the write
    * path's canonical layout (one file per partition, or more when
    * `maxRecordsPerFile` caps file size) and committed as a NEW snapshot
    * — single-file partitions carry by path. This is the OPTIMIZE a
    * streaming [[graft.streaming.StreamOps.lakeMergeSink]] needs: each
    * micro-batch MERGE appends a batch directory, so file count grows
    * one-per-commit until compaction folds them back down.
    *
    * Contents are untouched (same rows, recomputed stats), old versions
    * still time-travel until their files age out of the vacuum retention
    * window, and a lost commit race retries on the winner's snapshot
    * like any other writer.
    *
    * `sortCols` opts into CLUSTERED compaction (the OPTIMIZE ... ZORDER
    * BY shape): the rewrite range-partitions and sorts each lake
    * partition on those columns, so every output file covers one tight,
    * non-overlapping slice of the sort key — restoring the manifest
    * min/max skipping (and parquet footer pruning) that per-commit
    * appends of interleaved key ranges destroy. Range partitioning also
    * spreads a big partition's rewrite over many tasks instead of one.
    */
  def optimize(
      spark: SparkSession,
      root: String,
      minFilesPerPartition: Int = 2,
      maxRecordsPerFile: Long = 0L,
      maxRetries: Int = 3,
      sortCols: Seq[String] = Nil,
      zorderCols: Seq[String] = Nil,
      // SCOPED compaction (the Delta `OPTIMIZE ... WHERE` / Iceberg
      // rewrite_data_files filter): only partition groups holding a
      // file that MAY match the predicate compact — evaluated against
      // manifest metadata alone (partition values in each file's own
      // spec space, min/max stats, Bloom sidecars; zero data I/O). At
      // 100 TB nobody compacts the whole table — this is the verb that
      // compacts the hot partitions. Conservative by construction: an
      // unprunable predicate shape keeps groups in (compacting more
      // than asked is content-preserving; losing a group is not).
      where: Option[String] = None,
      preCommit: () => Unit = () => ()): MergeStats = retryOnConflict(maxRetries) {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.optimize: no committed snapshot at $root")
    val meta = s0.meta.get
    require(sortCols.isEmpty || zorderCols.isEmpty,
      "LakeTable.optimize: pass sortCols (lexicographic) OR zorderCols (Morton), not both")
    (sortCols ++ zorderCols).foreach(c => require(meta.schema.fieldNames.contains(c),
      s"LakeTable.optimize: sort column $c not in table schema"))
    // partition groups are (spec, part) pairs: under spec evolution the
    // same string can name different slices in different spec spaces.
    // Compaction rewrites through writeBatch, which files rows under
    // the CURRENT spec — OPTIMIZE is therefore also the spec MIGRATION
    // verb (old-spec files fold into current-spec layout as they compact)
    val fileCounts = s0.entries.groupBy(e => (e.spec, e.part)).map { case (p, es) => p -> es.size }
    // partitions with enough small files to pack, plus any partition
    // holding a DV'd file: OPTIMIZE is also the DV MATERIALIZATION verb
    // (rewrite minus dead rows, drop the vector) that restores
    // pure-columnar scans after merge-on-read deletes; with
    // minFilesPerPartition=1 every old-spec group rewrites too — the
    // explicit full-migration call
    val compactParts0 = fileCounts.filter(_._2 >= minFilesPerPartition).keySet ++
      s0.entries.filter(_.dv.isDefined).map(e => (e.spec, e.part))
    val compactParts = where.fold(compactParts0) { w =>
      val parsed = spark.sessionState.sqlParser.parseExpression(w)
      // an unknown single-part name is a typo: refuse. A nested field
      // (s.cust) has no stats or partition arm, so it keeps every group
      parsed.foreach {
        case a: org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
            if a.nameParts.length == 1 &&
              !meta.schema.fieldNames.exists(_.equalsIgnoreCase(a.name)) =>
          throw new IllegalArgumentException(
            s"LakeTable.optimize: WHERE references unknown column ${a.name}")
        case _ =>
      }
      val mayMatch = predicateFilePruner(spark, root, meta, GraftColumnBridge.column(parsed))
      compactParts0 & s0.entries.filter(mayMatch).map(e => (e.spec, e.part)).toSet
    }
    if (compactParts.isEmpty) unchanged(s0, -1)
    else {
      val rewrite = s0.entries.filter(e => compactParts.contains((e.spec, e.part)))
      val df = readEntries(spark, root, meta.schema, rewrite)
      // already-validated rows being compacted — no CHECK re-validation
      val written = writeBatch(spark, root, df, meta, maxRecordsPerFile, sortCols, zorderCols,
        enforceChecks = false)
      // lost race → metadata-only rebase: compaction never needs the
      // winner's new files (compacting fewer groups than a fresh run is
      // content-preserving), so the only conditions are untouched
      // metadata and a byte-identical rewrite set at head
      landDml(spark, root, "optimize", s0, meta, rewrite, Nil, written, compactParts.size,
        probed = -1L, mayMatch = _ => false, dvMerge = false, preCommit)
    }
  }

  // ---- CDC -----------------------------------------------------------

  /** The raw signed row-multiset diff between two versions: every row
    * that LEFT the table in `(vFrom, vTo]` carries `_sign = -1`, every
    * row that ENTERED carries `_sign = +1` — computed file-wise
    * (removed files, added files, deletion-vector diffs) with NO
    * pairing join, so it needs no key columns and is exact under any
    * duplicate structure. Intermediate states net out (a row inserted
    * and deleted inside the window contributes nothing). This is the
    * incremental-view-maintenance feed: a group-by SUM over
    * sign-weighted rows IS the exact aggregate delta, and its cost is
    * O(changed files), never the table.
    */
  def rowDeltas(spark: SparkSession, root: String, vFrom: Long, vTo: Long): DataFrame = {
    val (pre, post, _) = prePostRows(spark, root, vFrom, vTo)
    post.withColumn("_sign", lit(1L)).unionByName(pre.withColumn("_sign", lit(-1L)))
  }

  /** Does the type contain a MAP anywhere? Maps are not orderable, so a
    * row-equality `<=>` over a map-bearing struct is refused by the
    * analyzer — the CDC compare routes such columns through
    * [[orderableProxy]].
    */
  private def hasMap(dt: org.apache.spark.sql.types.DataType): Boolean = dt match {
    case _: org.apache.spark.sql.types.MapType => true
    case s: StructType => s.fields.exists(f => hasMap(f.dataType))
    case a: org.apache.spark.sql.types.ArrayType => hasMap(a.elementType)
    case _ => false
  }

  /** An ORDERABLE mirror of a possibly-map-bearing column: every map
    * (at any nesting depth) becomes its entry array sorted by key —
    * canonical because map keys are unique, so two maps are equal iff
    * their sorted entry arrays are. Identity for map-free types;
    * null-ness is preserved at every level (a NULL struct must not
    * become a struct of NULLs, which would spuriously equal one).
    */
  private def orderableProxy(
      c: Column,
      dt: org.apache.spark.sql.types.DataType): Column =
    if (!hasMap(dt)) c
    else dt match {
      case m: org.apache.spark.sql.types.MapType =>
        sort_array(transform(map_entries(c), e => struct(
          orderableProxy(e.getField("key"), m.keyType).as("key"),
          orderableProxy(e.getField("value"), m.valueType).as("value"))))
      case s: StructType =>
        when(c.isNull, lit(null)).otherwise(struct(s.fields.map(f =>
          orderableProxy(c.getField(f.name), f.dataType).as(f.name)).toSeq: _*))
      case a: org.apache.spark.sql.types.ArrayType =>
        transform(c, x => orderableProxy(x, a.elementType))
      case _ => c
    }

  /** Row-level change-data feed between two committed versions, derived
    * from the manifests alone: files present in both versions changed
    * nothing (COW never edits a file in place), so only `vFrom`-only
    * files (pre-images) and `vTo`-only files (post-images) are read.
    * Joining the two slices on `keyCols` classifies each key:
    *
    *   - key only in the new slice          → `insert`
    *   - key only in the old slice          → `delete`
    *   - both, any column changed           → `update_preimage` +
    *                                          `update_postimage`
    *   - both, row identical (the file was rewritten for a NEIGHBOR in
    *     its partition — COW granularity)   → suppressed
    *
    * Output columns are `vTo`'s schema (pre-images padded with NULL for
    * since-added columns) plus `_change_type` — the feed a downstream
    * incremental consumer replays. Requires `keyCols` to be unique per
    * version, which MERGE maintains. Cost scales with the CHANGED slice,
    * never the table.
    */
  def tableChanges(
      spark: SparkSession,
      root: String,
      vFrom: Long,
      vTo: Long,
      keyCols: Seq[String]): DataFrame = {
    val (pre, post, outSchema) = prePostRows(spark, root, vFrom, vTo)
    val dataCols = outSchema.fieldNames.toSeq
    // pack each side into ONE struct before the join: after a full-outer
    // join a missing side is then a genuinely NULL struct (selecting the
    // columns after the join would yield a struct OF nulls instead)
    def packed(df: DataFrame, as: String): DataFrame =
      df.select(keyCols.map(col) :+ struct(dataCols.map(col): _*).as(as): _*)
    val j = packed(pre, "__pre").join(packed(post, "__post"), keyCols, "full_outer")
    val inserts = j.where(col("__pre").isNull)
      .select(dataCols.map(c => col(s"__post.$c")) :+ lit("insert").as("_change_type"): _*)
    val deletes = j.where(col("__post").isNull)
      .select(dataCols.map(c => col(s"__pre.$c")) :+ lit("delete").as("_change_type"): _*)
    // the equality runs over orderable mirrors (maps → sorted entry
    // arrays); output columns stay the original values
    def cmp(side: String): Column = struct(outSchema.fields.map(f =>
      orderableProxy(col(s"$side.`${f.name}`"), f.dataType).as(f.name)).toSeq: _*)
    val changed = j.where(col("__pre").isNotNull && col("__post").isNotNull &&
      !(cmp("__pre") <=> cmp("__post")))
    val preImg = changed
      .select(dataCols.map(c => col(s"__pre.$c")) :+ lit("update_preimage").as("_change_type"): _*)
    val postImg = changed
      .select(dataCols.map(c => col(s"__post.$c")) :+ lit("update_postimage").as("_change_type"): _*)
    inserts.unionByName(deletes).unionByName(preImg).unionByName(postImg)
  }

  /** The row multisets that left (`pre`) and entered (`post`) the table
    * between two versions, aligned to `vTo`'s schema — the shared diff
    * under [[tableChanges]]'s classified feed and [[rowDeltas]]'s
    * signed feed.
    */
  private def prePostRows(
      spark: SparkSession,
      root: String,
      vFrom: Long,
      vTo: Long): (DataFrame, DataFrame, StructType) = {
    require(vFrom < vTo, s"LakeTable.tableChanges: need vFrom < vTo, got $vFrom >= $vTo")
    val (metaFrom, entFrom) = readManifest(spark, root, vFrom)
    val (metaTo, entTo) = readManifest(spark, root, vTo)
    val relsFrom = entFrom.map(_.rel).toSet
    val relsTo = entTo.map(_.rel).toSet
    val removed = entFrom.filterNot(e => relsTo.contains(e.rel))
    val added = entTo.filterNot(e => relsFrom.contains(e.rel))
    val outSchema = metaTo.schema
    // deletion-vector diffs: a file present in BOTH versions whose DV
    // changed DID change rows in place (the one exception to "COW never
    // edits a file") — positions newly dead left the table (pre side);
    // positions live again (a RESTORE to a pre-delete version) re-enter
    // it (post side). The diffs are tiny derived bitmaps, shipped inline.
    val byRelFrom = entFrom.map(e => e.rel -> e).toMap
    val dvPairs = entTo.flatMap(to =>
      byRelFrom.get(to.rel).filter(_.dv != to.dv).map(f => (f, to)))
    val conf = spark.sparkContext.hadoopConfiguration
    def bmOf(e: Entry): org.roaringbitmap.longlong.Roaring64Bitmap =
      e.dv.fold(new org.roaringbitmap.longlong.Roaring64Bitmap())(d =>
        Dv.read(conf, s"${dataRoot(root)}/${d.rel}"))
    def diffs(sel: ((Entry, Entry)) => (Entry, Entry)): (Seq[Entry], Map[String, Array[Byte]]) = {
      val picked = dvPairs.flatMap { p =>
        val (a, b) = sel(p)
        val d = org.roaringbitmap.longlong.Roaring64Bitmap.andNot(bmOf(b), bmOf(a))
        if (d.isEmpty) None else Some((p._2, Dv.suffixKey(p._2.rel) -> Dv.serialize(d)))
      }
      (picked.map(_._1), picked.map(_._2).toMap)
    }
    val (deadEntries, deadBms) = diffs { case (f, t) => (f, t) } // in to, not in from
    val (resEntries, resBms) = diffs { case (f, t) => (t, f) }   // in from, not in to
    val preDv = readAtPositions(spark, root, metaFrom.schema, deadEntries, deadBms)
    val postDv = readAtPositions(spark, root, outSchema, resEntries, resBms)
    val pre = align(readEntries(spark, root, metaFrom.schema, removed), outSchema)
      .unionByName(align(preDv, outSchema))
    val post = readEntries(spark, root, outSchema, added).unionByName(postDv)
    (pre, post, outSchema)
  }

  /** Versioned changelog: the per-commit CDC feed for every version in
    * `(fromVersion, toVersion]`, each [[tableChanges]] slice stamped with
    * its `_commit_version` — the finer-grained face of [[tableChanges]]
    * (which nets out intermediate states: a row inserted at v2 and
    * deleted at v3 is ABSENT from tableChanges(1,3) but appears as both
    * events here). Rows are aligned to `toVersion`'s schema (older
    * commits' columns pad with NULL). Cost: each pairwise diff reads
    * only the files that changed in that commit — the whole walk is
    * proportional to the changed slices plus manifest metadata, never
    * the table.
    */
  def changesSince(
      spark: SparkSession,
      root: String,
      fromVersion: Long,
      toVersion: Long = -1L,
      keyCols: Seq[String]): DataFrame = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.changesSince: no committed snapshot at $root")
    val to = if (toVersion < 0) s0.version else toVersion
    require(fromVersion < to,
      s"LakeTable.changesSince: need fromVersion < toVersion, got $fromVersion >= $to")
    val (metaTo, _) = readManifest(spark, root, to)
    val outSchema = metaTo.schema
    (fromVersion + 1 to to).map { v =>
      align(tableChanges(spark, root, v - 1, v, keyCols), outSchema.add("_change_type", StringType))
        .withColumn("_commit_version", lit(v))
    }.reduce(_.unionByName(_))
  }

  /** The `(from, to]` change feed: the snapshot at `to` as `insert` rows
    * stamped `_commit_version = to` when `from <= 0` (a consumer's
    * bootstrap), else the [[changesSince]] walk.
    */
  private[graft] def changeSlice(
      spark: SparkSession,
      root: String,
      from: Long,
      to: Long,
      keyCols: Seq[String]): DataFrame =
    if (from <= 0)
      readVersion(spark, root, to)
        .withColumn("_change_type", lit("insert"))
        .withColumn("_commit_version", lit(to))
    else changesSince(spark, root, from, to, keyCols)

  /** Checkpointed incremental CDC consumption — the scheduled-job analog
    * of a streaming change feed (the same drain-and-stop shape as
    * `Trigger.AvailableNow`): each call processes everything committed
    * since the LAST call and advances a durable offset.
    *
    *   - first call (no checkpoint): `f` receives the CURRENT snapshot
    *     as `insert` rows stamped `_commit_version = current` — the
    *     "initial snapshot" convention, so a consumer bootstraps and
    *     then increments;
    *   - later calls: `f` receives [[changesSince]](lastOffset) — cost
    *     proportional to what changed, never the table;
    *   - no new commits → `f` is not invoked at all (work is
    *     proportional to new versions, the whole point);
    *   - the offset is committed AFTER `f` returns, as a VERSIONED file
    *     (`offset-<to>`, atomic same-dir rename; the highest wins on
    *     read): the previous offset is never deleted before the new one
    *     is durable, so a crash at ANY point either replays the same
    *     slice (crash inside `f` or before the rename) or resumes past
    *     it (crash after) — it can never forget the checkpoint entirely
    *     and re-deliver the whole table as an initial snapshot. An
    *     idempotent/transactional `f` therefore gets exactly-once
    *     EFFECT — the standard incremental-consumer contract.
    *
    * Returns the (fromVersion, toVersion] window processed, or None when
    * there was nothing new.
    */
  def processChanges(
      spark: SparkSession,
      root: String,
      checkpointDir: String,
      keyCols: Seq[String])(f: DataFrame => Unit): Option[(Long, Long)] = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.processChanges: no committed snapshot at $root")
    val ckDir = new Path(checkpointDir)
    val fsys = fs(spark, ckDir)
    // committed offset = max over `offset-<v>` files (the version IS the
    // file name, so no content read is needed); a legacy single `offset`
    // file from the pre-versioned format is still honored
    val last: Option[Long] =
      if (!fsys.exists(ckDir)) None
      else {
        val names = fsys.listStatus(ckDir).map(_.getPath.getName).toSeq
        val versioned = names.filter(_.startsWith("offset-"))
          .flatMap(n => scala.util.Try(n.stripPrefix("offset-").toLong).toOption)
        val legacy =
          if (!names.contains("offset")) None
          else {
            val in = fsys.open(new Path(ckDir, "offset"))
            val text =
              try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
            Some(text.toLong)
          }
        (versioned ++ legacy).maxOption
      }
    val window = last match {
      case Some(v) if v >= s0.version => None
      case Some(v) => Some((v, s0.version))
      case None => Some((0L, s0.version))
    }
    window.foreach { case (from, to) =>
      f(changeSlice(spark, root, from, to, keyCols))
      // commit the offset only after f returned: crash inside f ->
      // replay. The new offset lands under a VERSIONED name before any
      // old one is touched — there is no window in which the checkpoint
      // directory holds no offset (the delete-then-rename of a single
      // `offset` file had one: a crash between the two re-bootstrapped
      // the ENTIRE table as an initial snapshot on the next call).
      fsys.mkdirs(ckDir)
      val dest = new Path(ckDir, s"offset-$to")
      val tmp = new Path(ckDir, s".tmp-offset-${java.util.UUID.randomUUID()}")
      writeSmallFile(fsys, tmp, to.toString.getBytes("UTF-8"))
      // a failed publish with the destination already present is a racing
      // consumer committing the SAME offset — equivalent, not an error
      // (publishAtomic gives the exactly-one-winner contract on local
      // filesystems too; see its doc)
      if (!publishAtomic(fsys, tmp, dest)) {
        require(fsys.exists(dest),
          s"LakeTable.processChanges: offset commit failed at $checkpointDir")
      }
      // best-effort cleanup of superseded offsets (incl. the legacy
      // `offset` file) — safe because the new one is already durable
      fsys.listStatus(ckDir).map(_.getPath).foreach { p =>
        val n = p.getName
        val stale = n == "offset" ||
          (n.startsWith("offset-") &&
            scala.util.Try(n.stripPrefix("offset-").toLong).toOption.exists(_ < to))
        if (stale) scala.util.Try(fsys.delete(p, false))
      }
    }
    window
  }

  // ---- snapshot tags -------------------------------------------------

  /** Named snapshot references (the Iceberg TAG shape): a tag pins a
    * committed version under a stable name — `VERSION AS OF 'name'`
    * resolves it, and [[vacuum]] treats every tagged version's files as
    * LIVE regardless of age or the keepVersions window, so an audit /
    * reproducibility snapshot ("the exact table the model trained on")
    * survives routine retention. Tags are stored as one tiny file per
    * name under `_manifests/refs/` (atomic publish; a losing racer
    * fails crisply), independent of the version line — dropping one
    * never touches data, the next vacuum just reclaims what only the
    * tag kept alive.
    */
  def tag(
      spark: SparkSession,
      root: String,
      name: String,
      version: Long,
      replace: Boolean = false): Unit = {
    require(name.matches("[A-Za-z0-9][A-Za-z0-9_.-]*"),
      s"LakeTable.tag: tag name must be alphanumeric/_/./-, got '$name'")
    require(scala.util.Try(name.toLong).isFailure,
      s"LakeTable.tag: a purely numeric tag name ('$name') would shadow " +
        "version-number time travel")
    val s0 = snapshot(spark, root)
    require(version >= 1 && version <= s0.version,
      s"LakeTable.tag: v$version is not a committed version (head is v${s0.version})")
    // refuse to tag an already-vacuumed version: a tag only PREVENTS
    // future reclamation, it cannot resurrect files — and snapshotAt's
    // missing-file check is exactly the readability contract the tag
    // promises (`VERSION AS OF 'name'` resolves through it)
    try snapshotAt(spark, root, version)
    catch {
      case e: Exception => throw new IllegalArgumentException(
        s"LakeTable.tag: v$version at $root is not readable (vacuumed?) — " +
          s"refusing to tag it: ${e.getMessage}")
    }
    val dir = new Path(manifestDir(root), "refs")
    val f = fs(spark, dir)
    f.mkdirs(dir)
    val dest = new Path(dir, name)
    if (replace) f.delete(dest, false)
    val tmp = new Path(dir, s".tmp-$name-${java.util.UUID.randomUUID()}")
    writeSmallFile(f, tmp, version.toString.getBytes("UTF-8"))
    require(publishAtomic(f, tmp, dest),
      s"LakeTable.tag: tag '$name' already exists at $root (use replace)")
  }

  def dropTag(spark: SparkSession, root: String, name: String): Boolean =
    fs(spark, new Path(root)).delete(new Path(new Path(manifestDir(root), "refs"), name), false)

  /** All tags as name -> version (empty when none). */
  def tags(spark: SparkSession, root: String): Map[String, Long] = {
    val dir = new Path(manifestDir(root), "refs")
    val f = fs(spark, dir)
    if (!f.exists(dir)) Map.empty
    else f.listStatus(dir).iterator
      .filter(s => s.isFile && !s.getPath.getName.startsWith("."))
      .flatMap { s =>
        val in = f.open(s.getPath)
        val text =
          try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
        scala.util.Try(text.toLong).toOption.map(s.getPath.getName -> _)
      }.toMap
  }

  def resolveTag(spark: SparkSession, root: String, name: String): Option[Long] =
    tags(spark, root).get(name)

  // ---- branches ------------------------------------------------------

  /** Fork a WRITABLE BRANCH at the current head (the Iceberg branch
    * shape; [[tag]]'s mutable sibling): the branch gets its own version
    * line under `_manifests/branches/<name>/` whose v1 is the head's
    * (meta, entries) — one metadata commit, zero data I/O. Every
    * LakeTable op accepts the [[branchRef]] `root#branch=<name>` —
    * appends, DELETE/UPDATE/MERGE, reads, time travel — writing data
    * files into the SHARED table directories while main's line never
    * sees them ([[vacuum]] pins branch-referenced files live). The fork
    * base (main's version now) is recorded for [[fastForward]].
    */
  def branch(spark: SparkSession, root: String, name: String): Unit = {
    val r = dataRoot(root)
    val s0 = snapshot(spark, r)
    require(s0.version > 0, s"LakeTable.branch: no committed snapshot at $r")
    val ref = branchRef(r, name)
    require(snapshot(spark, ref).version == 0,
      s"LakeTable.branch: branch '$name' already exists at $r")
    val dir = manifestDir(ref)
    val f = fs(spark, dir)
    f.mkdirs(dir)
    writeBranchBase(spark, r, name, s0.version)
    require(commit(spark, ref, 1, s0.meta.get, s0.entries),
      s"LakeTable.branch: concurrent branch create for '$name' at $r")
  }

  /** All branches as (name, head version, fork base). */
  def branches(spark: SparkSession, root: String): Seq[(String, Long, Long)] = {
    val dir = new Path(new Path(dataRoot(root), "_manifests"), "branches")
    val f = fs(spark, dir)
    if (!f.exists(dir)) Nil
    else f.listStatus(dir).toSeq.filter(_.isDirectory).map(_.getPath.getName).sorted.map { b =>
      (b, snapshot(spark, branchRef(root, b)).version, branchBase(spark, root, b))
    }
  }

  def dropBranch(spark: SparkSession, root: String, name: String): Boolean = {
    val dir = manifestDir(branchRef(root, name))
    // data files only the branch referenced become unreferenced orphans
    // — the next vacuum reclaims them like any dead version's files
    fs(spark, dir).delete(dir, true)
  }

  /** FAST-FORWARD main to the branch head: sound exactly when main has
    * not advanced past the fork base (then the branch head is a linear
    * descendant of main's state, and adopting its (meta, entries) as
    * main's next version IS the merge — one metadata commit, zero data
    * I/O, the same files). A diverged main refuses crisply. The branch
    * stays, its base moved up to the new main head, so the
    * branch-write → fast-forward loop iterates.
    */
  def fastForward(spark: SparkSession, root: String, name: String): Long = {
    val r = dataRoot(root)
    val ref = branchRef(r, name)
    val bs = snapshot(spark, ref)
    require(bs.version > 0, s"LakeTable.fastForward: no branch '$name' at $r")
    val base = branchBase(spark, r, name)
    val m0 = snapshot(spark, r)
    require(m0.version == base,
      s"LakeTable.fastForward: main is at v${m0.version} but branch '$name' forked " +
        s"at v$base — main has advanced, the branch is not a linear descendant " +
        "(rebase the branch or merge manually)")
    if (!commit(spark, r, m0.version + 1, bs.meta.get, bs.entries))
      throw new CommitConflict(
        s"LakeTable.fastForward: concurrent commit at $r (retry on a fresh snapshot)")
    writeBranchBase(spark, r, name, m0.version + 1, replace = true)
    m0.version + 1
  }

  /** MERGE a branch back into main — the write → merge loop's closing
    * verb. Three arms, most specific first:
    *
    *   - main unchanged since the fork → [[fastForward]] (adopt the
    *     branch head verbatim; one metadata commit).
    *   - main advanced but DISJOINTLY: table metadata untouched on both
    *     sides and every file the branch removed or modified still
    *     byte-identical at main's head → re-commit the branch's entry
    *     delta on top of main via the lost-commit rebase machinery
    *     ([[rebaseCommit]]) — one metadata commit, zero data I/O.
    *     FILE-level semantics, like Git: both sides may append freely
    *     (multiset union, exactly what sequential appends produce);
    *     overlapping REWRITE sets refuse.
    *   - anything else refuses crisply — replay the branch's logical
    *     ops on main, or drop and re-fork.
    *
    * On success the branch line is re-seeded with the MERGED state and
    * its fork base moves to the new main head (a later fastForward can
    * never silently drop main's changes), so the loop iterates.
    * Returns the new main version.
    */
  def mergeBranch(spark: SparkSession, root: String, name: String): Long = {
    val r = dataRoot(root)
    val ref = branchRef(r, name)
    val bs = snapshot(spark, ref)
    require(bs.version > 0, s"LakeTable.mergeBranch: no branch '$name' at $r")
    val base = branchBase(spark, r, name)
    if (snapshot(spark, r).version == base) return fastForward(spark, r, name)

    val (baseMeta, baseEntries) = readManifest(spark, r, base)
    require(bs.meta.get == baseMeta,
      s"LakeTable.mergeBranch: branch '$name' changed table metadata since the " +
        "fork and main has advanced — metadata changes merge only by " +
        "fast-forward (merge main's data changes into the branch first)")
    val baseByRel = baseEntries.map(e => e.rel -> e).toMap
    val headByRel = bs.entries.map(e => e.rel -> e).toMap
    // the branch's delta vs its fork base: entries it dropped or
    // replaced (DV edits included), and entries it added
    val removed = baseEntries.filterNot(e => headByRel.get(e.rel).contains(e))
    val written = bs.entries.filterNot(e => baseByRel.get(e.rel).contains(e))
    // Idempotent RE-RUN: a prior mergeBranch may have LANDED on main but
    // lost the branch re-seed race (the error path below). The landed
    // commit was atomic, so its whole delta is already applied at main's
    // head — written entries present byte-identical (a pure add's fresh
    // rel can reach main no other way), removals no longer holding the
    // base version. Drop the applied portion instead of re-appending it
    // (re-appending would list the same data files twice — silent row
    // duplication). Removals are dropped only when the WHOLE delta is
    // applied: a removal absent at head for any OTHER reason (main
    // deleted our read set) must still reach rebaseCommit's guard and
    // refuse, never resurrect.
    val m0 = snapshot(spark, r)
    val mByRel = m0.entries.map(e => e.rel -> e).toMap
    // Landed detection must survive main REWRITING a merged file after
    // the landed commit (compaction, re-delete, DV edit): a branch-
    // fresh rel can reach main only via a landed merge, so a fresh rel
    // KNOWN to main — at head in ANY form, or in any main manifest
    // since the fork base — was applied by an earlier (atomic) merge
    // run, and main's newer state of it must win: re-appending the
    // stale branch entry would list the same data twice and resurrect
    // main's deletes. Fresh rels main has never seen are genuinely
    // pending (e.g. the branch took a new commit after losing the
    // re-seed race) and re-apply normally.
    val freshRels = written.map(_.rel).filter(x => !baseByRel.contains(x))
    val freshKnown: Set[String] =
      if (freshRels.isEmpty) Set.empty
      else {
        val atHead = freshRels.filter(mByRel.contains).toSet
        val missing = freshRels.filterNot(atHead.contains)
        val seen = scala.collection.mutable.Set.empty[String]
        var v = base + 1
        while (missing.nonEmpty && v <= m0.version && seen.size < missing.size) {
          scala.util.Try(readManifest(spark, r, v)._2).toOption
            .foreach(_.foreach(e => if (missing.contains(e.rel)) seen += e.rel))
          v += 1
        }
        atHead ++ seen
      }
    val writtenPending = written.filterNot(e =>
      mByRel.get(e.rel).contains(e) || freshKnown.contains(e.rel))
    // the RELIABLE landed signal is written containment (a branch-fresh
    // rel reaches main only via a landed merge); a PURE-REMOVAL delta
    // has no such anchor — its removals absent at head could equally
    // mean main rewrote our read set, so it must reach rebaseCommit's
    // drift guard and refuse rather than read as "already applied"
    // (which would silently discard the branch's deletes)
    val deltaApplied = writtenPending.isEmpty &&
      removed.forall(e => !mByRel.get(e.rel).contains(e)) &&
      (written.nonEmpty || removed.isEmpty)
    val merged =
      if (deltaApplied) m0.version // landed (or empty) — no main commit needed
      // dvMerge: branch and main MOR-deleting DISJOINT rows of the same
      // file union their deletion vectors (row-level file merge — the
      // same sequential-equivalence argument as racing DML writers);
      // overlapping positions refuse like overlapping rewrites
      else rebaseCommit(spark, r, Snapshot(base, Some(baseMeta), baseEntries),
        baseMeta, removed, writtenPending, _ => false, dvMerge = true).getOrElse(
        throw new IllegalStateException(
          s"LakeTable.mergeBranch: branch '$name' and main hold OVERLAPPING rewrite " +
            s"sets (or main changed table metadata) since fork base v$base — a " +
            "file-level merge is not sound; replay the branch's operations on main, " +
            "or drop and re-fork the branch"))
    // re-seed the branch with the merged state so the loop iterates and
    // a later fastForward cannot lose main's side of the merge
    val (mMeta, mEntries) = readManifest(spark, r, merged)
    require(commit(spark, ref, bs.version + 1, mMeta, mEntries),
      s"LakeTable.mergeBranch: main merged at v$merged but a concurrent branch " +
        s"commit raced the branch re-seed — re-run mergeBranch for '$name'")
    writeBranchBase(spark, r, name, merged, replace = true)
    merged
  }

  private def branchBase(spark: SparkSession, root: String, name: String): Long = {
    val bp = new Path(manifestDir(branchRef(root, name)), "base")
    val f = fs(spark, bp)
    val in = f.open(bp)
    val text = try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim finally in.close()
    text.toLong
  }

  private def writeBranchBase(
      spark: SparkSession, root: String, name: String, v: Long,
      replace: Boolean = false): Unit = {
    val dir = manifestDir(branchRef(root, name))
    val f = fs(spark, dir)
    val bp = new Path(dir, "base")
    if (replace) f.delete(bp, false)
    writeSmallFile(f, bp, v.toString.getBytes("UTF-8"))
  }

  // ---- vacuum --------------------------------------------------------

  /** Delete data files that are (a) not referenced by any of the newest
    * `keepVersions` committed manifests and (b) older than
    * `retainMillis` — two independent retention guards. The time horizon
    * protects a concurrent writer's just-written, not-yet-committed
    * batch (and anything recent); the VERSION horizon guarantees the
    * last N snapshots stay time-travelable and a streaming source /
    * incremental consumer restarting inside that window can still replay
    * them, REGARDLESS of wall-clock age — the knob Delta expresses as a
    * retention duration and Iceberg as retain-last-N. The defaults
    * mirror the conventional 7-day lakehouse retention with only the
    * head version pinned; pass retainMillis=0 ONLY when no writer is in
    * flight (a 0-retention vacuum racing a writer could reclaim the
    * batch it is about to commit).
    *
    * Reader contract: the CURRENT snapshot is never affected (its files
    * are live by definition), and neither is any of the `keepVersions`
    * newest. A [[readVersion]] of an OLDER snapshot issued after the
    * vacuum fails crisply at plan time with a "has been vacuumed" error
    * rather than returning a partial table (spec-pinned). Retention is
    * what makes the concurrent-reader window practically empty: no read
    * outlives 7 days or N versions.
    *
    * Returns the number of FILES removed (data files plus files inside
    * reclaimed bloom-sidecar directories — a single unit).
    */
  /** Time-based snapshot expiration (the Iceberg `expire_snapshots`
    * verb): versions committed BEFORE `olderThanMillis` stop being
    * time-travelable and their exclusively-referenced files become
    * reclaimable — except the newest `keepLast` versions, which are
    * ALWAYS kept regardless of age (so a streaming source or
    * incremental consumer restarting inside the kept window still
    * replays). The version floor is derived from each manifest's
    * RECORDED commit time (`#commitTime`, mtime fallback for legacy
    * manifests), so "older than 2026-08-01" means commit time, not
    * filesystem accident. Tagged versions and branch fork bases stay
    * pinned exactly as under vacuum.
    *
    * Reclamation is MANIFEST-DRIVEN, never an orphan sweep: only a
    * file referenced by some expired-and-unpinned manifest and by NO
    * retained/pinned manifest (or branch line) is deleted — Iceberg's
    * expire_snapshots contract. A racing writer's just-written,
    * not-yet-committed batch is untouchable here by construction, no
    * matter the cutoff. (The previous face delegated to [[vacuum]]
    * with a file-age grace of now − olderThan, which a current/future
    * cutoff collapsed to ZERO — the orphan sweep could then reclaim an
    * in-flight batch between its write and its commit.) Orphans remain
    * [[vacuum]]'s job, under its age grace. Returns files removed
    * (data + DV + sidecar + segment files) plus manifest docs dropped.
    */
  def expireSnapshots(
      spark: SparkSession,
      root: String,
      olderThanMillis: Long,
      keepLast: Int = 1): Long = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.expireSnapshots: no committed snapshot at $root")
    require(keepLast >= 1, "LakeTable.expireSnapshots: keepLast must be >= 1")
    require(splitRef(root)._2.isEmpty,
      "LakeTable.expireSnapshots: expiration runs on the TABLE root, not a branch ref " +
        "(branches share the data tree)")
    val f = fs(spark, manifestDir(root))
    // commit times are monotonic, so the first version inside the keep
    // window binary-searches in O(log V) manifest opens (a 100k-version
    // history must not pay one open per expired version per call); a
    // version whose manifest a PRIOR expiration already dropped has no
    // time — it reads as outside the window (stays expired)
    def timeOf(v: Long): Option[Long] =
      scala.util.Try(commitTimeOf(spark, root, v)).toOption.flatten
        .orElse(scala.util.Try(
          f.getFileStatus(new Path(manifestDir(root), s"v$v.manifest"))
            .getModificationTime).toOption)
    def inWindow(v: Long): Boolean = timeOf(v).exists(_ >= olderThanMillis)
    val floor =
      if (!inWindow(s0.version)) s0.version
      else {
        var (lo, hi) = (1L, s0.version) // hi always in window
        while (lo < hi) {
          val mid = (lo + hi) / 2
          if (inWindow(mid)) hi = mid else lo = mid + 1
        }
        hi
      }
    val keepVersions = math.max(keepLast.toLong, s0.version - floor + 1)
    val keepFloor = s0.version - keepVersions + 1
    val pinnedV = tags(spark, root).values.toSet ++
      branches(spark, root).map(_._3).toSet
    def manifestExists(v: Long): Boolean =
      f.exists(new Path(manifestDir(root), s"v$v.manifest"))
    val expiredVs = (1L until keepFloor).filterNot(pinnedV.contains).filter(manifestExists)
    val retainedVs =
      ((keepFloor to s0.version) ++ pinnedV.filter(_ < keepFloor)).filter(manifestExists)
    // every branch's whole line pins its files/DVs live, same as vacuum
    val branchEntries: Seq[Entry] = branches(spark, root).flatMap { case (b, head, _) =>
      val ref = branchRef(root, b)
      (1L to head).flatMap(v =>
        scala.util.Try(readManifest(spark, ref, v)._2).toOption.getOrElse(Nil))
    }
    def docOf(v: Long) = readDoc(spark, root, v)
    def entriesOf(d: ManifestDoc): Seq[Entry] =
      d.segRefs.flatMap(loadSegment(spark, root, _)) ++ d.inline
    val retainedDocs = retainedVs.map(docOf)
    val expiredDocs = expiredVs.map(docOf)
    val retainedEntries = retainedDocs.flatMap(entriesOf) ++ branchEntries
    val retainedRels = retainedEntries.map(_.rel).toSet
    val retainedDvs = retainedEntries.flatMap(_.dv.map(_.rel)).toSet
    val retainedSegs = retainedDocs.flatMap(_.segRefs.map(_.rel)).toSet
    val expiredEntries = expiredDocs.flatMap(entriesOf)
    val df = fs(spark, new Path(dataRoot(root)))
    var removed = 0L
    // data files exclusively referenced by expired manifests
    expiredEntries.map(_.rel).distinct.filterNot(retainedRels).foreach { rel =>
      val p = new Path(dataRoot(root), rel)
      if (df.exists(p) && df.delete(p, false)) removed += 1
    }
    // DV sidecars exclusively referenced by expired manifests
    expiredEntries.flatMap(_.dv.map(_.rel)).distinct.filterNot(retainedDvs).foreach { rel =>
      val p = new Path(dataRoot(root), rel)
      if (df.exists(p) && df.delete(p, false)) removed += 1
    }
    // index sidecar dirs of batches no retained version can reach
    val retainedBatches = retainedRels.collect {
      case r if r.startsWith("data/") => r.split('/')(1)
    }
    expiredEntries.map(_.rel).collect {
      case r if r.startsWith("data/") => r.split('/')(1)
    }.distinct.filterNot(retainedBatches.contains).foreach { b =>
      val d = LakeStats.sidecarDir(root, b)
      if (df.exists(d)) {
        val inner = df.listFiles(d, true)
        val n = Iterator.continually(inner).takeWhile(_.hasNext).map(_.next())
          .count(_.isFile)
        df.delete(d, true)
        removed += n
      }
    }
    // manifest segments referenced only by expired docs
    expiredDocs.flatMap(_.segRefs.map(_.rel)).distinct.filterNot(retainedSegs).foreach { rel =>
      val p = new Path(manifestDir(root), rel)
      if (f.exists(p) && f.delete(p, false)) removed += 1
    }
    // Drop the EXPIRED manifest docs themselves: an append-only history
    // shares every data file with live versions, so file reclamation
    // alone leaves old snapshots fully readable — expiration is a
    // METADATA promise (Iceberg's expire_snapshots removes snapshot
    // metadata the same way). Tagged versions and branch fork bases
    // stay (a later mergeBranch/fastForward reads the base manifest).
    var dropped = 0L
    expiredVs.foreach { v =>
      val mf = new Path(manifestDir(root), s"v$v.manifest")
      if (f.exists(mf) && f.delete(mf, false)) dropped += 1
    }
    removed + dropped
  }

  def vacuum(
      spark: SparkSession,
      root: String,
      retainMillis: Long = 7L * 24 * 3600 * 1000,
      keepVersions: Int = 1): Long = {
    val s0 = snapshot(spark, root)
    require(s0.version > 0, s"LakeTable.vacuum: no committed snapshot at $root")
    require(keepVersions >= 1, "LakeTable.vacuum: keepVersions must be >= 1 (the head is always kept)")
    val floor = math.max(1L, s0.version - keepVersions + 1)
    // tagged versions are pinned LIVE regardless of age or the version
    // window — a tag is exactly a promise that its snapshot stays
    // readable (drop the tag to let retention reclaim it)
    val pinnedAll = tags(spark, root).values.toSet.filter(_ < floor)
    // tolerate a pinned version that is no longer readable (tagged via
    // an old code path, or its segments reclaimed by a pre-tag vacuum):
    // there is nothing left to keep alive for it, and aborting here
    // would wedge EVERY future vacuum until the tag is dropped
    val pinned = pinnedAll.filter { v =>
      val ok = scala.util.Try(readManifest(spark, root, v)).isSuccess
      if (!ok) Console.err.println(s"LakeTable.vacuum: tagged v$v at $root is " +
        "unreadable (already vacuumed?) — skipping its pin")
      ok
    }
    require(splitRef(root)._2.isEmpty,
      "LakeTable.vacuum: vacuum runs on the TABLE root, not a branch ref " +
        "(branches share the data tree; a branch-scoped sweep would reclaim " +
        "files other lines still reference)")
    // a version expireSnapshots already retired has no manifest doc —
    // it references nothing and simply drops out of the live walk
    // (EXISTENCE only: a transient read error on a present manifest
    // must still abort the sweep, never reclaim its files)
    val liveVersions = ((floor to s0.version) ++ pinned).filter { v =>
      val mf = new Path(manifestDir(root), s"v$v.manifest")
      fs(spark, mf).exists(mf)
    }
    // every branch's whole line pins its files/DVs live — branch writes
    // land in the shared data tree and only branch manifests reference
    // them (dropBranch releases the pins; branch version counts are
    // activity-bounded, so this walk is metadata-sized)
    val branchEntries: Seq[Entry] = branches(spark, root).flatMap { case (b, head, _) =>
      val ref = branchRef(root, b)
      (1L to head).flatMap(v =>
        scala.util.Try(readManifest(spark, ref, v)._2).toOption.getOrElse(Nil))
    }
    val live = (liveVersions
      .flatMap(v => readManifest(spark, root, v)._2.map(_.rel)) ++
      branchEntries.map(_.rel)).toSet
    val cutoff = System.currentTimeMillis() - retainMillis
    val dataDir = new Path(dataRoot(root), "data")
    val f = fs(spark, dataDir)
    if (!f.exists(dataDir)) return 0L
    val it = f.listFiles(dataDir, true)
    val all = Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
      .filter(s => s.isFile && s.getModificationTime < cutoff).map(_.getPath).toSeq
    val rootUri = new Path(dataRoot(root)).toUri.getPath
    var removed = 0L
    all.foreach { p =>
      val rel = p.toUri.getPath.stripPrefix(rootUri).stripPrefix("/")
      if (!live.contains(rel)) { f.delete(p, false); removed += 1 }
    }
    // Bloom sidecar dirs of DEAD batches (no live entry references any
    // of the batch's files) age out with their data: without this,
    // orphaned index dirs accumulate forever and every loadBlooms pays
    // for batches no reader can reach
    val liveBatches = live.collect {
      case rel if rel.startsWith("data/") => rel.split('/')(1)
    }
    val idxDir = LakeStats.sidecarDir(root)
    if (f.exists(idxDir)) {
      f.listStatus(idxDir).foreach { s =>
        if (s.isDirectory && s.getModificationTime < cutoff &&
          !liveBatches.contains(s.getPath.getName)) {
          // count the FILES inside the reclaimed sidecar dir, not the dir:
          // the returned total keeps a single unit (files removed) that
          // callers can assert on
          val inner = f.listFiles(s.getPath, true)
          val n = Iterator.continually(inner).takeWhile(_.hasNext).map(_.next())
            .count(_.isFile)
          f.delete(s.getPath, true)
          removed += n
        }
      }
    }
    // Deletion-vector sidecars referenced by no retained manifest age
    // out like data files (the cutoff grace protects a racing MOR
    // delete's just-written, not-yet-committed vector; a superseded
    // vector — its file re-deleted-from or rewritten — becomes
    // unreferenced and is reclaimed here)
    val liveDvs = (liveVersions
      .flatMap(v => readManifest(spark, root, v)._2.flatMap(_.dv.map(_.rel))) ++
      branchEntries.flatMap(_.dv.map(_.rel))).toSet
    val dvDir = new Path(dataRoot(root), Dv.Dir)
    if (f.exists(dvDir)) {
      f.listStatus(dvDir).foreach { s =>
        val stale = s.isFile && s.getModificationTime < cutoff
        if (stale && s.getPath.getName.endsWith(".dv") &&
          !liveDvs.contains(s"${Dv.Dir}/${s.getPath.getName}")) {
          f.delete(s.getPath, false)
          removed += 1
        } else if (stale && s.getPath.getName.endsWith(".inprogress")) {
          // a killed/speculative executor DV attempt's unpublished temp —
          // can never be referenced, ages out with everything else
          f.delete(s.getPath, false)
          removed += 1
        }
      }
    }
    // Manifest SEGMENTS referenced only by versions below the retention
    // floor age out like data files (same cutoff grace protects a racing
    // writer's just-written, not-yet-published segment). A readVersion
    // of an older snapshot then fails crisply, exactly like vacuumed
    // data.
    val liveSegs = liveVersions
      .flatMap(v => readDoc(spark, root, v).segRefs.map(_.rel)).toSet
    val segDir = new Path(manifestDir(root), "segments")
    if (f.exists(segDir)) {
      f.listStatus(segDir).foreach { s =>
        // seg- files only: the local-fs .crc shadows ride along with
        // their segment via ChecksumFileSystem.delete
        if (s.isFile && s.getPath.getName.startsWith("seg-") &&
          s.getModificationTime < cutoff &&
          !liveSegs.contains(s"segments/${s.getPath.getName}")) {
          f.delete(s.getPath, false)
          removed += 1
        }
      }
    }
    removed
  }
}
