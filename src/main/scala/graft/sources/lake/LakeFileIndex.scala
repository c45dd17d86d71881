package graft.sources.lake

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.{InternalRow, QueryPlanningTracker}
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.optimizer.ConstantFolding
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.types.DataTypeUtils
import org.apache.spark.sql.execution.datasources.{
  PartitionDirectory, PartitioningAwareFileIndex, PartitionSpec}
import org.apache.spark.sql.types.{BooleanType, DataType, NumericType, StringType, StructType}
import scala.util.control.NonFatal

import graft.operators.{LakeStats, LakeTable}
import graft.operators.LakeTable.{Entry, TableMeta}

/** The lake table's [[FileIndex]] — the planning half of the
  * `graft-lake` connector. This is the Delta-OSS idiom (a log-backed
  * FileIndex under Spark's own parquet reader, here the DSv2
  * `ParquetScan` the connector's scan builders plan): the MANIFEST is
  * the file listing, so
  *
  *   - `listFiles` answers from metadata alone — no directory walk ever
  *     happens (on a 100 TB table the data tree is millions of files;
  *     the snapshot's entry list already names the live ones), and
  *   - the `dataFilters` Spark pushes down prune that list BEFORE the
  *     scan: partition-column predicates select manifest partitions
  *     exactly, and stats-column predicates skip files whose recorded
  *     [min,max] cannot intersect — applied AUTOMATICALLY to any
  *     `.where()` the user writes, and composable with everything else
  *     Catalyst pushes (column pruning and residual parquet footer/page
  *     skipping still happen downstream in the vectorized reader).
  *
  * The table is declared UNPARTITIONED to Spark (`partitionSchema`
  * empty): the partition column is stored inside every data file as
  * well as in the manifest, so all predicates arrive as `dataFilters`
  * and partition pruning is just the min=max=value special case of
  * stats pruning. That keeps evolution/row-shape concerns out of the
  * partition-value decoding path entirely.
  *
  * It is the lake's one predicate-to-files pruner, and the one module
  * that knows how stats intervals and Bloom filters rule out a file.
  * Besides scans, [[entryFilter]] prunes DELETE and UPDATE (SQL or API),
  * `OPTIMIZE ... WHERE`, the MERGE key probe (`k BETWEEN lo AND hi`,
  * plus `k IN (…)` on Bloom columns for a narrow batch) and the lost-
  * commit rebase check it feeds, a matview's `readVersionForKeys`, and
  * `readPoint`/`readRange`, so a predicate skips the same files whichever
  * verb carries it. Literals become cells, and cells compare, through
  * [[graft.operators.LakeStats]]'s codec.
  *
  * Pruning is strictly conservative: only bare attr-vs-literal
  * comparisons, IN/INSET, and null tests on the partition column
  * contribute; casts, functions, ORs, disjunct literal types, and files
  * without recorded stats all keep the file in. Correctness never
  * depends on pruning — the full predicate still evaluates on the rows.
  *
  * `sizeInBytes` reports the snapshot's actual byte count from the
  * manifest's recorded per-file lengths — like `listFiles`, METADATA
  * ONLY (zero filesystem calls; pre-length entries fall back to one
  * getFileStatus each) — so Catalyst's broadcast decision sees the
  * table's true size instead of defaulting to "huge".
  */
class LakeFileIndex(
    spark: SparkSession,
    root: String,
    val meta: TableMeta,
    val entries: Seq[Entry])
  extends PartitioningAwareFileIndex(spark, Map.empty, None) {
  // ^ the PartitioningAwareFileIndex parent (rather than bare FileIndex)
  //   is what lets Spark's own ParquetScanBuilder/ParquetScan — the DSv2
  //   vectorized read stack the TableCatalog face plugs into — plan over
  //   this index directly; its three abstract members are served from
  //   the manifest below, and listFiles/sizeInBytes stay overridden with
  //   the pruning/metadata versions.

  /** Entries surviving pruning on the LAST listFiles call — the test
    * hook a skipping pin reads (scan metrics expose the same number).
    */
  @volatile var lastListedFiles: Int = -1

  override def rootPaths: Seq[Path] = Seq(new Path(graft.operators.LakeTable.dataRoot(root)))

  override def partitionSchema: StructType = new StructType()

  override def partitionSpec(): PartitionSpec = PartitionSpec.emptySpec

  override lazy val leafFiles: scala.collection.mutable.LinkedHashMap[Path, FileStatus] = {
    val m = scala.collection.mutable.LinkedHashMap.empty[Path, FileStatus]
    entries.foreach { e => val s = status(e); m.put(s.getPath, s) }
    m
  }

  override lazy val leafDirToChildrenFiles: Map[Path, Array[FileStatus]] =
    entries.map(status).groupBy(_.getPath.getParent).map { case (d, ss) => d -> ss.toArray }

  override def refresh(): Unit = ()  // a snapshot is immutable

  /** Filesystem round-trips made to resolve FileStatus — the test hook
    * pinning that planning over a post-length manifest touches the
    * filesystem ZERO times (only legacy pre-length entries fall back).
    * Atomic: concurrent planning threads may resolve entries in
    * parallel and the exact count is what probes pin.
    */
  private val fsStatusLookupCount = new java.util.concurrent.atomic.AtomicInteger(0)
  def fsStatusLookups: Int = fsStatusLookupCount.get

  // the table root qualified once (makeQualified is local — no RPC), so
  // synthesized statuses carry full URIs like a real listing would
  private lazy val qualifiedRoot: Path = {
    val p = new Path(graft.operators.LakeTable.dataRoot(root))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).makeQualified(p)
  }

  /** FileStatus from manifest METADATA alone: the recorded byte length is
    * exact (captured from the write's own listing), which is all split
    * planning and `sizeInBytes` consume — so planning never lists or
    * stats the data tree, no matter how many dead batches history has
    * accumulated (the previous recursive listing scaled with files ON
    * DISK, not the live set). Modification time is synthesized as 0
    * (immutable files; nothing downstream reads it in a batch scan).
    * Entries from pre-length manifests fall back to one getFileStatus
    * each. A vacuumed-mid-plan entry now fails at SCAN time (missing
    * file) instead of plan time — same crispness, later surface;
    * `snapshotAt` still refuses vacuumed time-travel versions up front.
    */
  // legacy-entry FileStatus fallback, resolved AT MOST ONCE per entry per
  // index instance (listFiles / sizeInBytes / leafFiles would otherwise
  // each re-issue one RPC per pre-length entry)
  private val fallbackStatus =
    new java.util.concurrent.ConcurrentHashMap[String, FileStatus]()

  private def status(e: Entry): FileStatus = e.bytes match {
    case Some(len) =>
      new FileStatus(len, false, 1, 128L * 1024 * 1024, 0L, new Path(qualifiedRoot, e.rel))
    case None =>
      fallbackStatus.computeIfAbsent(e.rel, { rel =>
        fsStatusLookupCount.incrementAndGet()
        val p = new Path(graft.operators.LakeTable.dataRoot(root), rel)
        p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      })
  }

  override lazy val sizeInBytes: Long = entries.map(e => e.bytes.getOrElse(status(e).getLen)).sum

  override def inputFiles: Array[String] =
    entries.map(e => new Path(graft.operators.LakeTable.dataRoot(root), e.rel).toString).toArray

  /** The manifest entries surviving predicate pruning — the metadata
    * half of [[listFiles]], separable so soundness properties can probe
    * it without touching the filesystem.
    */
  private[graft] def pruneEntries(filters: Seq[Expression]): Seq[Entry] =
    entries.filter(entryFilter(filters))

  /** The per-entry filter for resolved conjuncts `filters`: TRUE = the
    * entry may hold a matching row (any entry, e.g. a rival commit's).
    * Under PARTITION SPEC EVOLUTION an entry is tested in the spec space
    * it was WRITTEN under, through a single-spec child index: old files
    * keep pruning under the old grain, new files under the new (Iceberg's
    * model). An entry whose spec id this meta does not know is kept.
    */
  private[graft] def entryFilter(filters: Seq[Expression]): Entry => Boolean =
    if (meta.priorSpecs.isEmpty) {
      val preds = filters.flatMap(entryPredicate)
      e => preds.forall(_(e))
    } else {
      // built on first use: a spec no tested entry carries costs nothing
      val perSpec = meta.specs.map { case (pc, fn) =>
        lazy val f = new LakeFileIndex(spark, root,
          meta.copy(partitionCol = pc, partitionFn = fn, priorSpecs = Nil), Nil)
          .entryFilter(filters)
        (e: Entry) => f(e)
      }
      e => perSpec.lift(e.spec).forall(_(e))
    }

  override def listFiles(
      partitionFilters: Seq[Expression],
      dataFilters: Seq[Expression]): Seq[PartitionDirectory] = {
    val kept = pruneEntries(partitionFilters ++ dataFilters)
    lastListedFiles = kept.size
    Seq(PartitionDirectory(InternalRow.empty, kept.map(status).toArray))
  }

  // ---- manifest pruning from pushed-down catalyst predicates ---------

  private type EPred = Entry => Boolean

  private def fieldType(nm: String): Option[DataType] =
    meta.schema.fields.find(_.name.equalsIgnoreCase(nm)).map(_.dataType)

  private def isPart(nm: String): Boolean = nm.equalsIgnoreCase(meta.partitionCol)

  private def statsName(nm: String): Option[String] =
    meta.statsCols.find(_.equalsIgnoreCase(nm))

  /** The entry's partition value in comparison space: None = NULL. */
  private def partVal(e: Entry): Option[String] =
    if (e.part == LakeTable.NullPartition) None else Some(e.part)

  /** Whether cells [mn, mx] can meet [lo, hi] (an absent bound is
    * unbounded on that side).
    */
  private def meets(dt: DataType, mn: String, mx: String, lo: Option[String],
      hi: Option[String]): Boolean =
    lo.forall(l => LakeStats.compare(dt, mx, l) >= 0) &&
      hi.forall(h => LakeStats.compare(dt, mn, h) <= 0)

  /** Keep entries whose partition value can lie in [lo,hi] (NULL never
    * satisfies a comparison).
    */
  private def partRange(lo: Option[String], hi: Option[String]): EPred = {
    val dt = fieldType(meta.partitionCol).getOrElse(StringType)
    e => partVal(e).exists(v => meets(dt, v, v, lo, hi))
  }

  /** Keep entries whose recorded [min,max] on stats column `sc` can
    * intersect [lo,hi] (an absent bound is unbounded on that side;
    * missing file stats keep the file, conservative).
    */
  private def statsRange(sc: String, lo: Option[String], hi: Option[String]): EPred = {
    val idx = meta.statsCols.indexOf(sc)
    val dt = meta.schema(sc).dataType
    e => e.stats.lift(idx) match {
      case Some((Some(mn), Some(mx))) => meets(dt, mn, mx, lo, hi)
      case _ => true
    }
  }

  private def identityPart: Boolean =
    meta.partitionFn == graft.operators.PartitionFn.Identity

  private def bound(nm: String, lo: Option[String], hi: Option[String]): Option[EPred] =
    if (lo.isEmpty && hi.isEmpty) None
    // the partition branch compares partition strings against rendered
    // SOURCE values — only sound under identity partitioning (transform
    // space is handled by fnRangePred/fnEqPred on the raw values)
    else if (isPart(nm) && identityPart) Some(partRange(lo, hi))
    else statsName(nm).map(sc => statsRange(sc, lo, hi))

  // ---- hidden-partitioning pruning (transform space) -----------------

  /** The type PARTITION-SPACE strings compare as under the table's
    * transform: temporal formats and string prefixes as strings; integral
    * truncate renders integers, compared numerically.
    */
  private def fnSpaceType: DataType =
    if (graft.operators.PartitionFn.parse(meta.partitionFn)._1 == "truncate" &&
      fieldType(meta.partitionCol).exists(_.isInstanceOf[NumericType]))
      org.apache.spark.sql.types.LongType
    else StringType

  /** Source-column range [rawLo, rawHi] mapped into partition space —
    * valid only for MONOTONIC transforms (fn(lo) <= part <= fn(hi)).
    */
  private def fnRangePred(nm: String, rawLo: Option[Any], rawHi: Option[Any]): Option[EPred] =
    if (!isPart(nm) || identityPart ||
      !graft.operators.PartitionFn.monotonic(meta.partitionFn)) None
    else fieldType(nm).flatMap { dt =>
      try {
        val lo = rawLo.map(v => graft.operators.PartitionFn(meta.partitionFn, dt, v))
        val hi = rawHi.map(v => graft.operators.PartitionFn(meta.partitionFn, dt, v))
        if ((lo.isEmpty && hi.isEmpty) || lo.contains(null) || hi.contains(null)) None
        else {
          val st = fnSpaceType
          Some((e: Entry) => partVal(e).exists(v => meets(st, v, v, lo, hi)))
        }
      } catch { case _: Exception => None } // unmappable literal: no pruning
    }

  /** Source-column equality/IN mapped into partition space — valid for
    * EVERY transform (membership of fn(v)), including bucket.
    */
  private def fnEqPred(nm: String, raws: Seq[Any]): Option[EPred] =
    if (!isPart(nm) || identityPart) None
    else fieldType(nm).flatMap { dt =>
      try {
        if (raws.isEmpty || raws.contains(null)) None
        else {
          val set = raws.map(v => graft.operators.PartitionFn(meta.partitionFn, dt, v)).toSet
          if (set.contains(null)) None
          else Some((e: Entry) => partVal(e).exists(set.contains))
        }
      } catch { case _: Exception => None }
    }

  private def attrOf(x: Expression): Option[String] = x match {
    case a: AttributeReference => Some(a.name)
    case _ => None
  }

  /** A literal as a cell of attribute `nm`'s type ([[LakeStats.encodeLiteral]]);
    * literals arrive typed to the column (scan pushdown, or
    * [[LakeFileIndex.resolvedConjuncts]] for DML, MERGE and the read
    * helpers).
    */
  private def renderedFor(nm: String, v: Any): Option[String] =
    fieldType(nm).flatMap(dt => LakeStats.encodeLiteral(dt, v))

  // Bloom sidecars, loaded once per column per index instance (plan-time
  // metadata read, bounded by the snapshot's sidecar volume)
  private val bloomCache =
    scala.collection.mutable.Map.empty[String, Map[String, org.apache.spark.util.sketch.BloomFilter]]

  private def bloomsFor(bc: String): Map[String, org.apache.spark.util.sketch.BloomFilter] =
    synchronized {
      bloomCache.getOrElseUpdate(bc,
        LakeStats.loadBlooms(spark, root, meta.bloomNamesFor(bc)))
    }

  private def bloomName(nm: String): Option[String] =
    meta.bloomCols.find(_.equalsIgnoreCase(nm))

  /** Bloom consult for an equality/IN probe: a file is kept if ANY probed
    * value might be present (or it has no recorded filter). Hashes use
    * the attribute's own type, so this also prunes types the rendered
    * min/max comparison conservatively skips (binaries, out-of-range
    * dates).
    */
  private def bloomPred(nm: String, dt: DataType, raws: Seq[Any]): Option[EPred] =
    bloomName(nm).flatMap { bc =>
      if (raws.isEmpty || raws.contains(null)) None
      else {
        val hashes = raws.map(v => LakeStats.bloomHash(dt, v))
        val map = bloomsFor(bc)
        if (map.isEmpty) None
        else Some((e: Entry) => map.get(e.rel).forall(bf => hashes.exists(bf.mightContainLong)))
      }
    }

  /** Equality/IN probe on attribute `a` over literal values `raws`:
    * exact partition membership, stats [min,max] envelope, and Bloom
    * exclusion, ANDed when several apply. Any unrenderable value
    * disables the rendered paths (a match could hide there); the Bloom
    * path is type-agnostic and survives.
    */
  private def eqPred(a: Expression, raws: Seq[Any]): Option[EPred] =
    attrOf(a).flatMap { nm =>
      val rendered = raws.map(renderedFor(nm, _))
      val rangey: Option[EPred] =
        if (rendered.isEmpty || rendered.exists(_.isEmpty)) None
        else {
          if (isPart(nm) && identityPart) {
            // value-space equality, NOT rendered-string equality: a
            // pushed -0.0 literal renders "-0.0" while the stored
            // cast-to-string partition value is "0.0", yet Spark equality
            // holds (-0.0 == 0.0). For numeric partitions both sides are
            // canonicalized ONCE (decimal-normal form; equal under
            // LakeStats.compare iff canonically equal), so membership stays an
            // O(1) hash probe per entry instead of |IN-set| x entries
            // comparisons on the planning path; strings keep the plain
            // string set.
            val dt = fieldType(meta.partitionCol).getOrElse(StringType)
            val numeric = dt.isInstanceOf[NumericType]
            val set =
              if (numeric) rendered.flatten.map(LakeStats.canonNum).toSet
              else rendered.flatten.toSet
            Some((e: Entry) =>
              partVal(e).exists(v => set.contains(if (numeric) LakeStats.canonNum(v) else v)))
          }
          else statsName(nm).map { sc =>
            val set = rendered.flatten.toSet
            val dt = meta.schema.fields.find(_.name.equalsIgnoreCase(sc))
              .map(_.dataType).getOrElse(StringType)
            val lo = set.reduce((x, y) => if (LakeStats.compare(dt, x, y) <= 0) x else y)
            val hi = set.reduce((x, y) => if (LakeStats.compare(dt, x, y) >= 0) x else y)
            statsRange(sc, Some(lo), Some(hi))
          }
        }
      val bloomy = bloomPred(nm, a.dataType, raws)
      val fnEq = fnEqPred(nm, raws)
      Seq(rangey, bloomy, fnEq).flatten match {
        case Nil => None
        case ps => Some((e: Entry) => ps.forall(_(e)))
      }
    }

  /** Range comparison on attribute `a` over raw bounds: the rendered
    * stats/identity-partition envelope AND (for a transform-partitioned
    * source column) the monotone transform-space range, whichever
    * apply. A bound whose literal fails to render simply contributes no
    * constraint (conservative).
    */
  private def cmpPred(a: Expression, rawLo: Option[Any], rawHi: Option[Any]): Option[EPred] =
    attrOf(a).flatMap { nm =>
      val rendered =
        bound(nm, rawLo.flatMap(renderedFor(nm, _)), rawHi.flatMap(renderedFor(nm, _)))
      Seq(rendered, fnRangePred(nm, rawLo, rawHi)).flatten match {
        case Nil => None
        case ps => Some((e: Entry) => ps.forall(_(e)))
      }
    }

  /** One pushed conjunct → an entry predicate, or None (no pruning). */
  private def entryPredicate(f: Expression): Option[EPred] = f match {
    case Literal(false, BooleanType) => Some(_ => false) // no row can match
    case EqualTo(a, Literal(v, _)) if v != null => eqPred(a, Seq(v))
    case EqualTo(Literal(v, _), a) if v != null => eqPred(a, Seq(v))
    case EqualNullSafe(a, Literal(null, _)) =>
      attrOf(a).filter(isPart).map(_ => (e: Entry) => e.part == LakeTable.NullPartition)
    case EqualNullSafe(Literal(null, _), a) =>
      attrOf(a).filter(isPart).map(_ => (e: Entry) => e.part == LakeTable.NullPartition)
    case EqualNullSafe(a, Literal(v, _)) => eqPred(a, Seq(v))
    case EqualNullSafe(Literal(v, _), a) => eqPred(a, Seq(v))
    case GreaterThan(a, Literal(v, _)) => cmpPred(a, Some(v), None) // widened to >=
    case GreaterThanOrEqual(a, Literal(v, _)) => cmpPred(a, Some(v), None)
    case LessThan(a, Literal(v, _)) => cmpPred(a, None, Some(v))
    case LessThanOrEqual(a, Literal(v, _)) => cmpPred(a, None, Some(v))
    case GreaterThan(Literal(v, _), a) => cmpPred(a, None, Some(v)) // v > attr ⇔ attr < v
    case GreaterThanOrEqual(Literal(v, _), a) => cmpPred(a, None, Some(v))
    case LessThan(Literal(v, _), a) => cmpPred(a, Some(v), None)
    case LessThanOrEqual(Literal(v, _), a) => cmpPred(a, Some(v), None)
    case In(a, list) if list.forall(_.isInstanceOf[Literal]) =>
      eqPred(a, list.map(_.asInstanceOf[Literal].value))
    case InSet(a, hset) =>
      eqPred(a, hset.toSeq)
    case IsNull(a) =>
      attrOf(a).filter(isPart).map(_ => (e: Entry) => e.part == LakeTable.NullPartition)
    case IsNotNull(a) =>
      attrOf(a).filter(isPart).map(_ => (e: Entry) => e.part != LakeTable.NullPartition)
    case _ => None
  }
}

object LakeFileIndex {

  /** `predicate` (unresolved, by column name) as conjuncts resolved over
    * `schema` with literal casts folded, as a scan would type them:
    * `x = 0.1f` on a DOUBLE arrives as the widened double the rows are
    * compared with. Conjuncts holding a subquery are dropped unresolved;
    * a predicate that fails to analyze or fold yields none. Either only
    * disables pruning — the full predicate still runs on the rows.
    */
  private[graft] def resolvedConjuncts(
      spark: SparkSession,
      schema: StructType,
      predicate: Expression): Seq[Expression] = {
    // an API Column's `&&` is not an And until analysis: such a group
    // splits after it, and is dropped whole if it holds a subquery
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case o => Seq(o)
    }
    val plain = split(predicate).filterNot(SubqueryExpression.hasSubquery)
    if (plain.isEmpty) Nil
    else try {
      val analyzed = spark.sessionState.analyzer.executeAndCheck(
        Filter(plain.reduce(And), LocalRelation(DataTypeUtils.toAttributes(schema))),
        new QueryPlanningTracker)
      ConstantFolding(analyzed).collectFirst { case Filter(c, _) => split(c) }.getOrElse(Nil)
    } catch { case NonFatal(_) => Nil }
  }

  /** The index over the CURRENT snapshot, or a time-travel version
    * (`versionAsOf`), with readVersion's vacuumed-snapshot refusal.
    */
  def apply(spark: SparkSession, root: String, versionAsOf: Option[Long]): LakeFileIndex = {
    val snap = versionAsOf match {
      case Some(v) => LakeTable.snapshotAt(spark, root, v)
      case None =>
        val s = LakeTable.snapshot(spark, root)
        require(s.version > 0, s"graft-lake: no committed snapshot at $root")
        s
    }
    new LakeFileIndex(spark, root, snap.meta.get, snap.entries)
  }
}
