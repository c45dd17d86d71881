package graft.sources.lake


import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.connector.read.{
  Batch, InputPartition, PartitionReaderFactory, Scan, ScanBuilder}
import org.apache.spark.sql.connector.read.streaming.{MicroBatchStream, Offset}
import org.apache.spark.sql.execution.datasources.v2.parquet.{ParquetScan, ParquetScanBuilder}
import org.apache.spark.sql.internal.connector.SupportsPushDownCatalystFilters
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.util.SerializableConfiguration

import graft.operators.{LakeStats, LakeTable}

/** The catalog table's Scan layer: batch scans delegate verbatim to
  * Spark's [[ParquetScanBuilder]]/[[ParquetScan]] over the manifest
  * index (pushdown included), and `toMicroBatchStream` adds the
  * STREAMING face — `spark.readStream.table("graft.db.t")` and
  * `spark.readStream.format("graft-lake").load(root)` alike — with the
  * manifest-version-offset semantics GraftLake.scala documents:
  * micro-batch (a, b] reads exactly the files ADDED by pure-append
  * commits in that version range (immutable
  * manifests ⇒ byte-identical replay, exactly-once admission), change
  * commits fail crisply or are skipped wholly under
  * `skipChangeCommits`, `startingVersion` skips the initial snapshot,
  * `maxVersionsPerTrigger` bounds each micro-batch's version span, and
  * Trigger.AvailableNow pins the end version at prepare time. Each
  * micro-batch's partitions are planned by a real [[ParquetScan]] over
  * a [[LakeFileIndex]] of just the added files, so the read path is the
  * same vectorized reader as the batch face.
  */
class LakeScanBuilder(
    spark: SparkSession,
    root: String,
    meta: LakeTable.TableMeta,
    entries: Seq[LakeTable.Entry],
    options: CaseInsensitiveStringMap)
  extends ScanBuilder
  with SupportsPushDownCatalystFilters
  with org.apache.spark.sql.connector.read.SupportsPushDownAggregates
  with org.apache.spark.sql.connector.read.SupportsPushDownRequiredColumns {

  // merge-on-read split: DV-free entries plan through the delegate
  // (vectorized + pushdown); DV'd entries get their own scan with NO
  // pushed filters (DvBatch's dense-position contract) — Spark
  // re-applies every filter above the scan, so results are identical
  private val (dvEntries, cleanEntries) = entries.partition(_.dv.isDefined)

  private val delegate = LakeScan.builder(spark, root, meta, cleanEntries, options)

  private val dvDelegate =
    if (dvEntries.isEmpty) None
    else Some(LakeScan.builder(spark, root, meta, dvEntries))

  private var sawFilters = false
  // what Spark pushed, replayed verbatim when a runtime filter re-plans
  // the scan over a pruned entry list (LakeScan.filter)
  private var pushedData: Seq[Expression] = Nil
  private var prunedSchema: Option[StructType] = None

  override def pushFilters(filters: Seq[Expression]): Seq[Expression] = {
    sawFilters |= filters.nonEmpty
    pushedData = filters
    delegate.pushFilters(filters) // parquet keeps every data filter post-scan
  }

  override def pushedFilters: Array[org.apache.spark.sql.connector.expressions.filter.Predicate] =
    delegate.pushedFilters

  override def pruneColumns(requiredSchema: StructType): Unit =
    // after a complete aggregate pushdown the "required columns" are the
    // aggregate's output, not table columns — nothing to prune
    if (pushedAgg.isEmpty) {
      prunedSchema = Some(requiredSchema)
      delegate.pruneColumns(requiredSchema)
      dvDelegate.foreach(_.pruneColumns(requiredSchema))
    }

  // ---- metadata-only aggregate pushdown -------------------------------

  private var pushedAgg: Option[(StructType, Seq[InternalRow])] = None

  override def supportCompletePushDown(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean =
    metadataAggregate(aggregation).isDefined

  override def pushAggregation(
      aggregation: org.apache.spark.sql.connector.expressions.aggregate.Aggregation): Boolean = {
    pushedAgg = metadataAggregate(aggregation)
    pushedAgg.isDefined
  }

  /** COUNT(*) / MIN / MAX — global or GROUPED BY the identity partition
    * column — answered from the MANIFEST alone: `SELECT count(*) FROM t`
    * and `SELECT p, count(*), max(k) FROM t GROUP BY p` plan as
    * driver-local rows, ZERO files read, at any table size (the 100 TB
    * shape of "how many rows per partition"). Sound only in exactly
    * these cases, None (= scan normally) otherwise:
    *
    *   - COUNT(*): every entry's row count is recorded; deletion
    *     vectors subtract exactly (liveRows = rows - dvCardinality).
    *   - MIN/MAX(col): col is stats-covered, every entry recorded both
    *     bounds (a missing cell could HIDE the extremum — all-null
    *     files and legacy manifests refuse), NO entry carries a
    *     deletion vector (a deleted row may BE the recorded extremum),
    *     and the cell decodes back to the column type exactly (the
    *     whitelist below; [[LakeStats.decode]] round-trips its cells
    *     for these types, in UTC whatever the session zone). SQL
    *     MIN/MAX ignore nulls, exactly like per-file typed min/max.
    *   - GROUP BY: exactly the partition column under IDENTITY
    *     partitioning (files carry one value each, so per-partition
    *     groups are unions of whole entries; the null sentinel IS the
    *     SQL null group). Transform partitioning refuses — the source
    *     column does not group by partition value.
    *
    * Any pushed filter refuses (the filter would have to be re-applied
    * to metadata; Spark only attempts aggregate pushdown under a fully
    * consumed filter set, this guard makes the soundness local).
    * Complete pushdown: the returned rows are final.
    */
  private def metadataAggregate(
      agg: org.apache.spark.sql.connector.expressions.aggregate.Aggregation)
      : Option[(StructType, Seq[InternalRow])] = {
    import org.apache.spark.sql.connector.expressions.NamedReference
    import org.apache.spark.sql.connector.expressions.aggregate.{AggregateFunc, CountStar, Max, Min}
    import org.apache.spark.sql.types._
    if (sawFilters) return None

    def field(e: org.apache.spark.sql.connector.expressions.Expression): Option[StructField] =
      e match {
        case r: NamedReference if r.fieldNames.length == 1 =>
          meta.schema.fields.find(_.name.equalsIgnoreCase(r.fieldNames()(0)))
        case _ => None
      }
    def exact(dt: DataType): Boolean = dt match {
      case ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
           StringType | DateType | TimestampType => true
      case _: DecimalType => true
      case _ => false
    }
    // grouping: none (one global group) or exactly the identity
    // partition column
    val groupField: Option[StructField] = agg.groupByExpressions.toSeq match {
      case Seq() => None
      case Seq(e) => field(e) match {
        // no floating key: -0.0 and 0.0 are DISTINCT partition dirs but
        // ONE SQL group (Spark normalizes -0.0 in grouping), so the
        // directory-per-value model would emit two rows for one group.
        // Under spec evolution the fold goes PER SPEC: an entry answers
        // a GROUP BY c iff its OWN spec is identity on c (its part
        // value IS the c value); equal part strings then union across
        // spec ids. A snapshot holding any entry whose spec partitions
        // a different column (or a transform of this one) refuses —
        // that file's rows span unknown groups.
        case Some(f) if entries.nonEmpty &&
            entries.forall(en => meta.specs.lift(en.spec).exists { case (c, fn) =>
              c.equalsIgnoreCase(f.name) &&
                fn == graft.operators.PartitionFn.Identity }) &&
            exact(f.dataType) &&
            f.dataType != FloatType && f.dataType != DoubleType => Some(f)
        case _ => return None
      }
      case _ => return None
    }

    /** Some(value or null) = answerable over `es`; None = refuse. */
    def extreme(f: StructField, isMin: Boolean, es: Seq[LakeTable.Entry]): Option[Any] = {
      val idx = meta.statsCols.indexWhere(_.equalsIgnoreCase(f.name))
      if (idx < 0 || !exact(f.dataType) || es.exists(_.dv.isDefined)) None
      else if (es.isEmpty) Some(null)
      else LakeStats.extreme(f.dataType, es.map(_.stats.lift(idx)), isMin)
    }
    def value(op: AggregateFunc, es: Seq[LakeTable.Entry]): Option[Any] = op match {
      case _: CountStar =>
        if (es.exists(_.rows.isEmpty)) None else Some(es.flatMap(_.liveRows).sum)
      case m: Min => field(m.column).flatMap(extreme(_, isMin = true, es))
      case m: Max => field(m.column).flatMap(extreme(_, isMin = false, es))
      case _ => None
    }

    val cols = groupField.toSeq.map(f => StructField(f.name, f.dataType)) ++
      agg.aggregateExpressions.toSeq.map {
        case _: CountStar => StructField("count_star", LongType, nullable = false)
        case m: Min =>
          val f = field(m.column).getOrElse(return None)
          StructField(s"min_${f.name}", f.dataType)
        case m: Max =>
          val f = field(m.column).getOrElse(return None)
          StructField(s"max_${f.name}", f.dataType)
        case _ => return None
      }
    val groups: Seq[(Seq[Any], Seq[LakeTable.Entry])] = groupField match {
      case None => Seq((Nil, entries))
      case Some(f) => entries.groupBy(_.part).toSeq.map { case (p, es) =>
        val key =
          if (p == LakeTable.NullPartition) null
          else LakeStats.decode(f.dataType, p).getOrElse(return None)
        (Seq(key), es)
      }
    }
    val rows = groups.map { case (key, es) =>
      val vals = agg.aggregateExpressions.toSeq.map(op => value(op, es).getOrElse(return None))
      InternalRow.fromSeq(key ++ vals)
    }
    Some((StructType(cols), rows))
  }

  override def build(): Scan = pushedAgg match {
    case Some((schema, rows)) => new LakeLocalAggScan(root, schema, rows)
    case None =>
      // storage-partitioned-join eligibility, decided at build time:
      // identity or bucket partitioning (bucket resolves through the
      // catalog's V2 `bucket` function — GraftFunctions; the temporal
      // transforms are for pruning, not join keys), no deletion vectors
      // (the DV side plans separately), and the user opted into Spark's
      // v2 bucketing (the same gate Iceberg uses — keyed planning
      // trades split granularity for co-partitioning, which is only a
      // win when a join exploits it).
      //
      // Spec evolution: the LIVE entries must share ONE spec — its
      // (col, fn) is the keyed space, whether or not it is the CURRENT
      // spec (a just-evolved table whose files all predate the change
      // still joins shuffle-free on the old key). Mixed-spec snapshots
      // refuse until OPTIMIZE migrates (two part-value spaces are not
      // one keyed space).
      val liveSpec: Option[(String, String)] =
        cleanEntries.map(_.spec).distinct.toList match {
          case s :: Nil => meta.specs.lift(s)
          case _ => None
        }
      val spjSpec = liveSpec.filter { case (_, fn) =>
        graft.operators.PartitionFn.parse(fn)._1 match {
          case "identity" | "bucket" | "truncate" => true
          case _ => false
        }
      }.filter(_ =>
        spark.conf.get("spark.sql.sources.v2.bucketing.enabled", "false").toBoolean &&
          dvEntries.isEmpty)
      new LakeScan(spark, root, meta, delegate.build().asInstanceOf[ParquetScan], options,
        dvDelegate.map(b => (b.build().asInstanceOf[ParquetScan], dvEntries)),
        cleanEntries, pushedData, prunedSchema, spjSpec)
  }
}

/** The metadata-only aggregate result as a [[LocalScan]]: Spark plans it
  * as a driver-local table scan (LocalTableScanExec) — no executors, no
  * file reads, no shuffle. One row per group, computed above from the
  * manifest.
  */
class LakeLocalAggScan(root: String, schema: StructType, groupRows: Seq[InternalRow])
  extends org.apache.spark.sql.connector.read.LocalScan {
  override def readSchema(): StructType = schema
  override def rows(): Array[InternalRow] = groupRows.toArray
  override def description(): String = s"graft-lake metadata-aggregate $root"
}

/** A [[FilePartition]] whose files all carry one partition value — the
  * [[org.apache.spark.sql.connector.read.HasPartitionKey]] unit Spark's
  * key-grouped (storage-partitioned) join planning consumes. The
  * delegate's file-granular reader factory reads it unchanged.
  */
private[lake] class KeyedFilePartition(
    index: Int,
    files: Array[org.apache.spark.sql.execution.datasources.PartitionedFile],
    key: InternalRow)
  extends org.apache.spark.sql.execution.datasources.FilePartition(index, files)
  with org.apache.spark.sql.connector.read.HasPartitionKey {
  override def partitionKey(): InternalRow = key
}

class LakeScan(
    spark: SparkSession,
    root: String,
    meta: LakeTable.TableMeta,
    delegate: ParquetScan,
    options: CaseInsensitiveStringMap,
    dvSide: Option[(ParquetScan, Seq[LakeTable.Entry])] = None,
    cleanEntries: Seq[LakeTable.Entry] = Nil,
    pushedData: Seq[Expression] = Nil,
    prunedSchema: Option[StructType] = None,
    // the single spec (partitionCol, partitionFn) every live entry was
    // written under, when SPJ-eligible — not necessarily the CURRENT
    // spec on an evolved-but-unwritten table
    spjSpec: Option[(String, String)] = None)
  extends Scan
  with org.apache.spark.sql.connector.read.SupportsRuntimeV2Filtering
  with org.apache.spark.sql.connector.read.SupportsReportPartitioning
  with org.apache.spark.sql.connector.read.SupportsReportStatistics {

  override def readSchema(): StructType = delegate.readSchema()

  /** Plan-time statistics from the MANIFEST, and filter-aware: the
    * pushed conjuncts prune the entry list exactly as the listing will,
    * so a `WHERE month = X` join side is costed at its post-prune size —
    * the static broadcast/join-reorder decision sees the truth without
    * waiting for AQE's runtime numbers. Missing cells degrade to
    * "unknown" (Spark substitutes its conservative default), never to
    * an under-estimate: an under-reported fact table would be
    * broadcast. Column min/max from the stats cells feed CBO.
    */
  override def estimateStatistics(): org.apache.spark.sql.connector.read.Statistics = {
    import org.apache.spark.sql.connector.read.colstats.ColumnStatistics
    val all = cleanEntries ++ dvSide.map(_._2).getOrElse(Nil)
    val kept =
      if (pushedData.isEmpty || all.isEmpty) all
      else new LakeFileIndex(spark, root, meta, all).pruneEntries(pushedData)
    val bytes = if (kept.exists(_.bytes.isEmpty)) None else Some(kept.flatMap(_.bytes).sum)
    val rows = if (kept.exists(_.rows.isEmpty)) None else Some(kept.flatMap(_.liveRows).sum)
    // write-time per-batch histograms folded over the PRUNED entry list
    // (liveness-scaled): CBO's skew signal beyond min/max — only loaded
    // when CBO will read it, and only for numeric stats columns
    val hists: Map[String, (Double, Double, Array[Double])] =
      if (!spark.sessionState.conf.cboEnabled) Map.empty
      else LakeStats.tableHistograms(spark, root, kept,
        meta.statsCols.filter(c => meta.schema.fields
          .find(_.name.equalsIgnoreCase(c))
          .exists(_.dataType.isInstanceOf[org.apache.spark.sql.types.NumericType])))
    val colStats: Map[org.apache.spark.sql.connector.expressions.NamedReference,
        ColumnStatistics] =
      meta.statsCols.zipWithIndex.flatMap { case (c, i) =>
        meta.schema.fields.find(_.name.equalsIgnoreCase(c)).flatMap { f =>
          val cells = kept.map(_.stats.lift(i))
          val v2Hist = hists.get(c).orElse(
            hists.find(_._1.equalsIgnoreCase(c)).map(_._2)).flatMap {
            case (lo, hi, counts) => LakeScan.equiHeight(lo, hi, counts)
          }
          for {
            mn <- LakeStats.extreme(f.dataType, cells, isMin = true)
            mx <- LakeStats.extreme(f.dataType, cells, isMin = false)
          } yield org.apache.spark.sql.connector.expressions.Expressions.column(f.name) ->
            new ColumnStatistics {
              override def min(): java.util.Optional[Object] =
                java.util.Optional.of(mn.asInstanceOf[Object])
              override def max(): java.util.Optional[Object] =
                java.util.Optional.of(mx.asInstanceOf[Object])
              override def histogram(): java.util.Optional[
                  org.apache.spark.sql.connector.read.colstats.Histogram] =
                v2Hist.fold(java.util.Optional.empty[
                  org.apache.spark.sql.connector.read.colstats.Histogram]())(
                  java.util.Optional.of)
            }
        }
      }.toMap
    new org.apache.spark.sql.connector.read.Statistics {
      override def sizeInBytes(): java.util.OptionalLong =
        bytes.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def numRows(): java.util.OptionalLong =
        rows.fold(java.util.OptionalLong.empty())(java.util.OptionalLong.of)
      override def columnStats(): java.util.Map[
          org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics] = {
        val m = new java.util.HashMap[
          org.apache.spark.sql.connector.expressions.NamedReference, ColumnStatistics]()
        colStats.foreach { case (k, s) => m.put(k, s) }
        m
      }
    }
  }

  // swapped by filter() when a runtime predicate prunes the entry list;
  // BatchScanExec re-calls toBatch after filter(), picking this up
  @volatile private var runtimeDelegate: ParquetScan = delegate

  /** Storage-partitioned joins: report the manifest's identity
    * partitioning as a [[KeyGroupedPartitioning]], and plan each task
    * over files of exactly ONE partition value ([[HasPartitionKey]]).
    * Two lake tables partitioned on the join key then join with NO
    * shuffle on either side (Spark aligns the key-grouped partitions
    * and sorts within tasks) — at 100 TB the exchange this deletes is
    * the dominant cost of a fact-fact join, and a following aggregate
    * on the same key reuses the partitioning too. Iceberg semantics:
    * gated by `spark.sql.sources.v2.bucketing.enabled`; join keys that
    * properly contain the partition key additionally need
    * `spark.sql.requireAllClusterKeysForCoPartition=false`, and
    * mismatched partition-value sets need
    * `spark.sql.sources.v2.bucketing.pushPartValues.enabled`.
    */
  override def outputPartitioning()
      : org.apache.spark.sql.connector.read.partitioning.Partitioning =
    spjSpec match {
      case Some((pCol, pFn)) =>
        import org.apache.spark.sql.connector.expressions.Expressions
        val key = graft.operators.PartitionFn.parse(pFn) match {
          case ("bucket", n) => Expressions.bucket(n, pCol)
          // single-argument form (truncate_<w>): Spark's key-grouped
          // partitioning rejects multi-arg transforms, so the width rides
          // the function name (resolved by GraftFunctions.resolve)
          case ("truncate", n) =>
            Expressions.apply(s"truncate_$n", Expressions.column(pCol))
          case _ => Expressions.identity(pCol)
        }
        new org.apache.spark.sql.connector.read.partitioning.KeyGroupedPartitioning(
          Array(key), cleanEntries.map(_.part).distinct.size)
      case None =>
        new org.apache.spark.sql.connector.read.partitioning.UnknownPartitioning(0)
    }

  /** The delegate's planned splits regrouped so each task covers one
    * partition value, keyed by that value cast back to the column type
    * (identity rendering round-trips; the null sentinel keys a null).
    * The delegate's OWN planning (pushed filters, split sizing) is
    * reused verbatim — splits of one value merge into one task.
    */
  private def keyedBatch(b: Batch): Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      import graft.operators.Dv
      val partOf: Map[String, String] =
        cleanEntries.map(e => Dv.suffixKey(e.rel) -> e.part).toMap
      // key type: the COLUMN's type under identity, the transform's
      // result type (Int bucket id) under bucket — must match what the
      // resolved TransformExpression/attribute declares. Col/fn come
      // from the single LIVE spec, not necessarily the current one.
      val (spjCol, spjFn) = spjSpec.getOrElse(
        throw new IllegalStateException("graft-lake SPJ: keyedBatch without a live spec"))
      val bucketed = graft.operators.PartitionFn.parse(spjFn)._1 == "bucket"
      val dt = meta.schema.fields
        .find(_.name.equalsIgnoreCase(spjCol)).get.dataType
      def keyRow(part: String): InternalRow = InternalRow(
        if (part == LakeTable.NullPartition) null
        else if (bucketed) part.toInt
        else LakeStats.decode(dt, part).getOrElse(throw new IllegalStateException(
          s"graft-lake SPJ: partition value $part does not decode as ${dt.simpleString}")))
      val files = b.planInputPartitions().flatMap {
        case fp: org.apache.spark.sql.execution.datasources.FilePartition => fp.files
        case other => throw new IllegalStateException(
          s"graft-lake SPJ: unexpected input partition ${other.getClass}")
      }
      files.groupBy { f =>
        partOf.getOrElse(Dv.suffixKey(Dv.decodeUrlPath(f.filePath.toString)),
          throw new IllegalStateException(
            s"graft-lake SPJ: planned file ${f.filePath} not in the manifest"))
      }.toSeq.zipWithIndex.map { case ((part, fs), i) =>
        new KeyedFilePartition(i, fs.toArray, keyRow(part))
      }.toArray
    }
    override def createReaderFactory(): PartitionReaderFactory = b.createReaderFactory()
  }

  /** Runtime (execution-time) file skipping — the DSv2 dynamic-pruning
    * contract: Spark's PartitionPruning rule sees these attributes and,
    * for a broadcast equi-join keyed on one of them with a selective
    * filter on the other side, feeds the build side's ACTUAL key values
    * back into [[filter]] before the scan runs. Unlike Hive-style DPP
    * this is not limited to the partition column: the manifest prunes
    * whole FILES on stats ranges and Bloom sidecars too, so a join key
    * that is merely sort-clustered or Bloom-covered skips data the
    * static planner could never prove dead. At 100 TB this is the
    * difference between scanning the fact table and scanning the rows
    * the dimension filter actually selects.
    */
  override def filterAttributes(): Array[org.apache.spark.sql.connector.expressions.NamedReference] =
    (Seq(meta.partitionCol) ++ meta.statsCols ++ meta.bloomCols).distinct
      // only columns surviving column pruning: Spark RESOLVES these
      // against the scan's output and throws on a miss (a join key is
      // always in the output, so this loses no pruning opportunity)
      .filter(n => readSchema().fields.exists(_.name.equalsIgnoreCase(n)))
      .map(org.apache.spark.sql.connector.expressions.Expressions.column)
      .toArray

  override def filter(
      predicates: Array[org.apache.spark.sql.connector.expressions.filter.Predicate]): Unit = {
    val exprs = predicates.toSeq.flatMap(LakeScan.toCatalyst(meta.schema, _))
    if (exprs.isEmpty) return
    val kept = new LakeFileIndex(spark, root, meta, cleanEntries).pruneEntries(exprs)
    LakeScan.lastRuntimePrune.put(root, (kept.size, cleanEntries.size))
    if (kept.size < cleanEntries.size) {
      // re-plan over the surviving entries, replaying the ORIGINAL
      // pushdown state so the rebuilt scan is shape-identical (same
      // pushed filters, same pruned read schema) — only the file list
      // shrank. DV'd entries are left unfiltered (conservative; their
      // scan re-applies every predicate above anyway).
      val b = LakeScan.builder(spark, root, meta, kept, options)
      b.pushFilters(pushedData)
      prunedSchema.foreach(b.pruneColumns)
      runtimeDelegate = b.build().asInstanceOf[ParquetScan]
    }
  }

  override def toBatch: Batch = dvSide match {
    case None =>
      if (spjSpec.isDefined) keyedBatch(runtimeDelegate.toBatch)
      else runtimeDelegate.toBatch
    case Some((dvScan, dvEntries)) =>
      new DvBatch(runtimeDelegate.toBatch, dvScan, dvEntries, root,
        new SerializableConfiguration(spark.sessionState.newHadoopConf()))
  }

  override def description(): String = s"graft-lake $root ${delegate.description()}"

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream = {
    // the per-batch scans below plan with the FULL table schema, so the
    // declared read schema must be the full schema too — today Spark
    // applies no column pruning to micro-batch scan builders, and this
    // guard turns any future pruneColumns call into a crisp error
    // instead of a silent declared-vs-produced schema misalignment
    require(readSchema() == GraftLake.nullable(meta.schema),
      s"graft-lake streaming: column-pruned streaming scans are not supported " +
        s"(got ${readSchema().toDDL}, table ${meta.schema.toDDL})")
    require(!options.getBoolean("readChangeFeed", false),
      "graft-lake: the change feed carries extra columns (_change_type, " +
        "_commit_version), so it is its own table — read the derived table " +
        "instead: spark.readStream.option(\"keyCols\", ...).table(\"<table>.__changes\"), " +
        "or by path, where the option selects that table: spark.readStream" +
        ".format(\"graft-lake\").option(\"readChangeFeed\", true)" +
        ".option(\"keyCols\", ...).load(root)")
    new LakeMicroBatchStream(
      spark, root, meta,
      startingVersion = Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L),
      skipChangeCommits = options.getBoolean("skipChangeCommits", false),
      maxVersionsPerTrigger = Option(options.get("maxVersionsPerTrigger")).map(_.toLong))
  }
}

private[graft] object LakeScan {

  /** Spark's parquet scan builder over exactly `entries` of the table. */
  def builder(
      spark: SparkSession,
      root: String,
      meta: LakeTable.TableMeta,
      entries: Seq[LakeTable.Entry],
      options: CaseInsensitiveStringMap = CaseInsensitiveStringMap.empty()): ParquetScanBuilder =
    ParquetScanBuilder(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      new LakeFileIndex(spark, root, meta, entries),
      GraftLake.nullable(meta.schema), GraftLake.nullable(meta.schema), options)

  /** Equi-width fold → the EQUI-HEIGHT histogram the v2/catalyst stats
    * interface expects (height = rows per bin): walk the cells cutting
    * cumulative mass at height multiples, assuming uniform mass within
    * a cell for fractional cuts. Per-bin ndv is approximated as the
    * number of source cells the bin overlaps — FilterEstimation only
    * uses it to damp equality selectivity, so a cell-granular proxy is
    * the right order of magnitude.
    */
  def equiHeight(lo: Double, hi: Double, counts: Array[Double])
      : Option[org.apache.spark.sql.connector.read.colstats.Histogram] = {
    import org.apache.spark.sql.connector.read.colstats.{Histogram, HistogramBin}
    val total = counts.sum
    if (!(total > 0) || !(hi > lo)) return None
    val cells = counts.length
    val cellW = (hi - lo) / cells
    // cumulative mass at each cell boundary; bin cuts found by linear
    // interpolation inside the cell containing each height multiple
    val cum = new Array[Double](cells + 1)
    var i = 0
    while (i < cells) { cum(i + 1) = cum(i) + counts(i); i += 1 }
    val target = math.min(32, cells)
    val h = total / target
    def xAt(mass: Double): Double = {
      var j = 0
      while (j < cells && cum(j + 1) < mass) j += 1
      if (j >= cells) hi
      else {
        val frac = if (counts(j) > 0) (mass - cum(j)) / counts(j) else 0.0
        lo + j * cellW + frac * cellW
      }
    }
    val cuts = (0 to target).map(j =>
      if (j == 0) lo else if (j == target) hi else xAt(j * h))
    val cutBins = (0 until target).map { j =>
      val bLo = cuts(j)
      val bHi = math.max(cuts(j + 1), bLo)
      // ndv proxy: how many source cells the bin spans — only used to
      // damp equality selectivity, the order of magnitude is what counts
      val nd = math.max(1L, math.round((bHi - bLo) / cellW))
      new HistogramBin {
        override def lo(): Double = bLo
        override def hi(): Double = bHi
        override def ndv(): Long = nd
      }: HistogramBin
    }
    Some(new Histogram {
      override def height(): Double = h
      override def bins(): Array[HistogramBin] = cutBins.toArray
    })
  }

  /** (kept, total) clean entries after the LAST runtime filter on a
    * root — the probe a skipping pin reads (DPP effects are otherwise
    * invisible to the SQL face; scan metrics expose file counts but not
    * the runtime-vs-static split).
    */
  val lastRuntimePrune = new java.util.concurrent.ConcurrentHashMap[String, (Int, Int)]()

  /** A runtime V2 predicate → the catalyst conjunct [[LakeFileIndex]]
    * prunes with. Spark's runtime filters arrive as `IN(col, v...)` (the
    * broadcast side's collected key values) or `=`; anything else is
    * ignored (no pruning — correctness never depends on it, the join
    * still filters).
    */
  private[lake] def toCatalyst(
      schema: StructType,
      p: org.apache.spark.sql.connector.expressions.filter.Predicate): Option[Expression] = {
    import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, In}
    import org.apache.spark.sql.connector.expressions.{
      NamedReference, Expression => V2Expression, Literal => V2Literal}
    def attr(e: V2Expression): Option[AttributeReference] = e match {
      case r: NamedReference if r.fieldNames.length == 1 =>
        schema.fields.find(_.name.equalsIgnoreCase(r.fieldNames()(0)))
          .map(f => AttributeReference(f.name, f.dataType, f.nullable)())
      case _ => None
    }
    def lit(e: V2Expression): Option[Literal] = e match {
      case l: V2Literal[_] => Some(Literal(l.value, l.dataType))
      case _ => None
    }
    p.name match {
      case "IN" => p.children().toSeq match {
        case r +: rest if rest.nonEmpty =>
          val lits = rest.map(lit)
          if (lits.exists(_.isEmpty)) None
          else attr(r).map(a => In(a, lits.flatten.toSeq))
        case _ => None
      }
      case "=" => p.children().toSeq match {
        case Seq(r, l: V2Literal[_]) => attr(r).map(a => EqualTo(a, Literal(l.value, l.dataType)))
        case Seq(l: V2Literal[_], r) => attr(r).map(a => EqualTo(a, Literal(l.value, l.dataType)))
        case _ => None
      }
      case _ => None
    }
  }
}

class LakeMicroBatchStream(
    spark: SparkSession,
    root: String,
    meta: LakeTable.TableMeta,
    startingVersion: Long,
    skipChangeCommits: Boolean,
    maxVersionsPerTrigger: Option[Long])
  extends VersionOffsetStream(spark, root, startingVersion, maxVersionsPerTrigger) {

  /** A ParquetScan over exactly `entries` (the per-batch or template
    * planning unit — same vectorized read stack as the batch face).
    */
  private def scanOf(entries: Seq[LakeTable.Entry]): ParquetScan =
    LakeScan.builder(spark, root, meta, entries).build().asInstanceOf[ParquetScan]

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    // a mid-stream ALTER COLUMN TYPE refuses crisply (restart picks up
    // the wide schema) instead of failing in the parquet reader
    window.requireTypesUnchanged(meta.schema, ver(end))
    scanOf(window.addedEntries(ver(start), ver(end), skipChangeCommits))
      .toBatch.planInputPartitions()
  }

  // the factory captures schema + conf only — partitions carry the files,
  // so one factory serves every micro-batch
  private lazy val factory: PartitionReaderFactory =
    scanOf(Nil).toBatch.createReaderFactory()

  override def createReaderFactory(): PartitionReaderFactory = factory

  override def commit(end: Offset): Unit = ()
}

/** The catalog CDF face: `graft.db.t.__changes` is a derived READ-ONLY
  * table whose schema is the base table's plus `_change_type` /
  * `_commit_version` (the Iceberg metadata-table pattern — the change
  * feed carries extra columns, so it must BE a table for
  * `readStream.table` to type-check against).
  *
  * The path face's `readChangeFeed=true` resolves to this same table,
  * so every change feed shares [[LakeTable.changesSince]]'s
  * classification. A change slice is the result of a JOIN between each commit's
  * removed and added rows — not a set of existing files — so the DSv2
  * contract (InputPartitions) is met by MATERIALIZING each slice once
  * to parquet and planning a real ParquetScan over it: the Delta
  * write-time CDC-file idea applied at read time. Batch reads stage
  * under a fresh temp dir; micro-batches stage under the stream's
  * checkpoint keyed by version range, so a restart REUSES the slice it
  * already materialized (byte-identical replay) instead of recomputing.
  */
class LakeChangesScanBuilder(
    spark: SparkSession,
    root: String,
    meta: LakeTable.TableMeta,
    options: CaseInsensitiveStringMap)
  extends ScanBuilder {
  override def build(): Scan = new LakeChangesScan(spark, root, meta, options)
}

class LakeChangesScan(
    spark: SparkSession,
    root: String,
    meta: LakeTable.TableMeta,
    options: CaseInsensitiveStringMap)
  extends Scan {

  private val cdf: StructType = GraftLake.cdfSchema(GraftLake.nullable(meta.schema))

  /** keyCols is what classifies a commit's changes (removed rows join
    * added rows on it: update vs insert+delete), so it is required
    * exactly where a changelog WALK happens — always for streaming,
    * and for batch only past the snapshot-as-inserts bootstrap (the
    * no-options SQL face `SELECT * FROM t.__changes` stays readable).
    */
  private def keyCols: Seq[String] =
    keyColsOpt.getOrElse(throw new IllegalArgumentException(
      "graft-lake __changes: the keyCols option is required (each commit's " +
        "removed rows join its added rows on these columns to classify " +
        "insert/delete vs update): spark.read[Stream].option(\"keyCols\", \"id\")" +
        ".table(\"graft.db.t.__changes\")"))

  private def keyColsOpt: Option[Seq[String]] =
    Option(options.get("keyCols")).map(_.split(",").map(_.trim).filter(_.nonEmpty).toSeq)
      .filter(_.nonEmpty)

  private def startingVersion: Long =
    Option(options.get("startingVersion")).map(_.toLong).getOrElse(0L)

  override def readSchema(): StructType = cdf

  override def description(): String = s"graft-lake-changes $root"

  /** Batch face: `startingVersion = 0` (default) delivers the CURRENT
    * snapshot as inserts stamped with the head version (the bootstrap
    * the streaming face's first batch delivers too); `startingVersion =
    * n > 0` delivers the exact `(n, head]` per-commit changelog.
    */
  override def toBatch: Batch = {
    val head = LakeTable.snapshot(spark, root).version
    // caught-up poller (startingVersion == head): an empty feed, not a
    // changesSince precondition crash — parity with the streaming face,
    // where latestOffset returns null and no batch runs
    if (startingVersion >= head) return LakeCdf.scanOver(spark, Nil, cdf).toBatch
    val keys = if (startingVersion > 0) keyCols else keyColsOpt.getOrElse(Nil)
    // staged under a shutdown-cleaned root, keyed by (table, window):
    // a re-executed action (or a second read of the same window) REUSES
    // the _SUCCESS-gated slice instead of leaking one temp dir per run
    val dir = LakeCdf.batchStageDir(root, keys, startingVersion, head)
    LakeCdf.materialize(spark, root, startingVersion, head, keys, cdf, dir)
    LakeCdf.scanOver(spark, Seq(dir), cdf).toBatch
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new LakeCdfMicroBatchStream(
      spark, root, cdf, keyCols,
      startingVersion = startingVersion,
      maxVersionsPerTrigger = Option(options.get("maxVersionsPerTrigger")).map(_.toLong),
      stageDir = s"$checkpointLocation/__graft_cdf")
}

/** Shared slice materialization for the catalog CDF faces. */
private[lake] object LakeCdf {

  /** One JVM-scoped staging root for BATCH reads, deleted on shutdown;
    * inside it, slices are keyed by (table root, version window) so
    * re-executed actions reuse the materialized slice (the `_SUCCESS`
    * gate in [[materialize]]) instead of leaking one dir per run.
    */
  private lazy val batchStageRoot: java.nio.file.Path = {
    val dir = java.nio.file.Files.createTempDirectory("graft-cdf-batch")
    Runtime.getRuntime.addShutdownHook(new Thread(() => {
      def rm(f: java.io.File): Unit = {
        Option(f.listFiles()).foreach(_.foreach(rm))
        f.delete(): Unit
      }
      rm(dir.toFile)
    }))
    dir
  }

  def batchStageDir(root: String, keyCols: Seq[String], from: Long, to: Long): String = {
    // full-string digest, not hashCode: two roots (or the same root read
    // with different keyCols, which changes the insert/update/delete
    // classification) must never collide onto one _SUCCESS-gated slice
    val md = java.security.MessageDigest.getInstance("SHA-1")
    val id = (root + "\n" + keyCols.mkString(",")).getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val key = md.digest(id).map("%02x".format(_)).mkString
    s"$batchStageRoot/$key/v$from-$to"
  }

  /** Write the `(from, to]` change slice ([[LakeTable.changeSlice]]),
    * aligned to `schema`, to `dir` exactly once: a dir whose `_SUCCESS`
    * marker exists is reused verbatim (restart replay), anything else —
    * absent or half-written — is rewritten from the immutable manifests.
    */
  def materialize(
      spark: SparkSession,
      root: String,
      from: Long,
      to: Long,
      keyCols: Seq[String],
      schema: StructType,
      dir: String): Unit = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new org.apache.hadoop.fs.Path(p, "_SUCCESS")))
      LakeTable.align(LakeTable.changeSlice(spark, root, from, to, keyCols), schema)
        .write.mode("overwrite").parquet(dir)
  }

  /** A ParquetScan over the materialized dirs (empty = factory
    * template), on the same vectorized stack as every other lake read.
    */
  def scanOver(spark: SparkSession, dirs: Seq[String], schema: StructType): ParquetScan = {
    val index = new org.apache.spark.sql.execution.datasources.InMemoryFileIndex(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      dirs.map(new org.apache.hadoop.fs.Path(_)),
      Map.empty[String, String], Some(schema))
    ParquetScanBuilder(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession],
      index, schema, schema, CaseInsensitiveStringMap.empty())
      .build().asInstanceOf[ParquetScan]
  }
}

/** Micro-batch change feed on manifest-version offsets (the
  * [[VersionOffsetStream]] core the append stream shares; crash
  * determinism from immutable manifests + staged slices).
  */
class LakeCdfMicroBatchStream(
    spark: SparkSession,
    root: String,
    cdf: StructType,
    keyCols: Seq[String],
    startingVersion: Long,
    maxVersionsPerTrigger: Option[Long],
    stageDir: String)
  extends VersionOffsetStream(spark, root, startingVersion, maxVersionsPerTrigger) {

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val (from, to) = (ver(start), ver(end))
    // a mid-stream ALTER COLUMN TYPE refuses crisply here too — without
    // this, the slice's cast-to-captured-schema fails with a low-level
    // ANSI cast error on out-of-range widened values instead of the
    // restart instruction (narrow→wide at the batch end passes: the
    // slice casts UP, which is the supported direction)
    window.requireTypesUnchanged(cdf, to)
    val dir = s"$stageDir/v$from-$to"
    LakeCdf.materialize(spark, root, from, to, keyCols, cdf, dir)
    LakeCdf.scanOver(spark, Seq(dir), cdf).toBatch.planInputPartitions()
  }

  private lazy val factory: PartitionReaderFactory =
    LakeCdf.scanOver(spark, Nil, cdf).toBatch.createReaderFactory()

  override def createReaderFactory(): PartitionReaderFactory = factory

  /** Committed slices are never replanned (restart replay only covers
    * UNcommitted batches), so their staged dirs are reclaimed here —
    * without this, staging grows with total change volume ever streamed.
    */
  override def commit(end: Offset): Unit = {
    val committed = ver(end)
    val p = new org.apache.hadoop.fs.Path(stageDir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(p)) fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName // v<from>-<to>
      if (n.startsWith("v")) n.drop(1).split("-", 2) match {
        case Array(_, to) if scala.util.Try(to.toLong).toOption.exists(_ <= committed) =>
          fs.delete(st.getPath, true): Unit
        case _ => ()
      }
    }
  }
}
