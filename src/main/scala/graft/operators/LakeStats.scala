package graft.operators

import org.apache.hadoop.fs.{FileStatus, Path}
import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, SparkSession}
import org.apache.spark.sql.catalyst.{CatalystTypeConverters, InternalRow}
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.catalyst.expressions.{
  BoundReference, Cast, DateFormatClass, EvalMode, Expression, Literal, XxHash64}
import org.apache.spark.sql.catalyst.util.TypeUtils
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.operators.LakeTable.{Entry, TableMeta}

/** The lake's statistics module — the one place that knows how a stats
  * bound or a partition value is stored in the manifest, and how the
  * stats sidecars are laid out:
  *
  *   - the CELL CODEC: [[encode]], [[decode]] and [[compare]]. A cell is
  *     the value's Spark cast-to-string rendering, always in [[Zone]]
  *     (UTC), whatever the writing or reading session's time zone — so a
  *     TIMESTAMP bound written in one zone meets a literal rendered in
  *     another. Partition values, pruning, metadata-only MIN/MAX, plan-
  *     time column statistics and SPJ keys all go through it.
  *   - the WRITE-TIME STATS PASS ([[collectBatchMetadata]]): row counts,
  *     footer-exact bounds, one fused scan for the rest, Bloom filters
  *     and equi-width histograms.
  *   - the SIDECARS under [[sidecarDir]]`(root, batch)`, which
  *     [[loadBlooms]] and [[tableHistograms]] read.
  */
private[graft] object LakeStats {

  // ---- the cell codec -------------------------------------------------

  /** The zone every cell renders and parses in. A constant, not a
    * setting: a cell's meaning must not depend on the session that wrote
    * or reads it.
    */
  val Zone = "UTC"

  /** The cell for INTERNAL (catalyst) value `v` of type `dt`: Spark's
    * cast to string in [[Zone]]. Integral and string values render
    * directly (the same text, off the planning path's Cast).
    */
  def encode(dt: DataType, v: Any): String = encoder(dt)(v)

  /** [[encode]] bound once for many values of type `dt` (a writer's rows). */
  def encoder(dt: DataType): Any => String = dt match {
    case ByteType | ShortType | IntegerType | LongType | StringType => _.toString
    case _ => bound(Cast(BoundReference(0, dt, nullable = false), StringType, Some(Zone)))
  }

  /** The internal value of cell `s` at `dt`, or None when it does not
    * parse as one (callers then refuse the metadata answer).
    */
  def decode(dt: DataType, s: String): Option[Any] =
    Option(Cast(Literal(UTF8String.fromString(s), StringType), dt, Some(Zone), EvalMode.TRY)
      .eval())

  /** [[encode]] as a column expression — the write path's partition
    * directory value.
    */
  def encodeColumn(c: Column): Column =
    GraftColumnBridge.column(Cast(GraftColumnBridge.expression(c), StringType, Some(Zone)))

  /** `date_format(c, pattern)` in [[Zone]] over a DATE or TIMESTAMP
    * column — the temporal partition transforms' directory value.
    */
  def formatColumn(c: Column, dt: DataType, pattern: String): Column =
    GraftColumnBridge.column(formatted(GraftColumnBridge.expression(c), dt, pattern))

  /** [[formatColumn]] over internal values, bound once. */
  def formatter(dt: DataType, pattern: String): Any => String =
    bound(formatted(BoundReference(0, dt, nullable = false), dt, pattern))

  private def formatted(e: Expression, dt: DataType, pattern: String): Expression =
    DateFormatClass(if (dt == DateType) Cast(e, TimestampType, Some(Zone)) else e,
      Literal(pattern), Some(Zone))

  private def bound(e: Expression): Any => String = v => e.eval(InternalRow(v)).toString

  /** A predicate literal (internal value, typed to its column) as a cell
    * a [[compare]] can order, or None — binaries, other types, cross-
    * family literals and dates or timestamps outside years 0000-9999
    * (where renderings stop ordering lexically) do not prune.
    */
  def encodeLiteral(dt: DataType, v: Any): Option[String] = (dt, v) match {
    case (_, null) => None
    case (_: NumericType, _: java.lang.Number | _: Decimal) | (StringType, _: UTF8String) |
        (StringType, _: String) | (BooleanType, _: Boolean) =>
      scala.util.Try(encode(dt, v)).toOption
    case (DateType, _: Int) | (TimestampType | TimestampNTZType, _: Long) =>
      Some(encode(dt, v)).filter(fourDigitYear)
    case _ => None
  }

  /** The least (`isMin`) or greatest value over per-file (min, max)
    * cells, or None when there is none, a file lacks a bound or a bound
    * does not decode — a missing cell could hide the extremum.
    */
  def extreme(
      dt: DataType,
      cells: Seq[Option[(Option[String], Option[String])]],
      isMin: Boolean): Option[Any] = {
    val vs = cells.map {
      case Some((Some(mn), Some(mx))) => decode(dt, if (isMin) mn else mx)
      case _ => None
    }
    if (vs.isEmpty || vs.exists(_.isEmpty)) None
    else {
      val ord = TypeUtils.getInterpretedOrdering(dt)
      Some(vs.flatten.reduce((a, b) => if ((ord.compare(a, b) <= 0) == isMin) a else b))
    }
  }

  /** Order two cells of type `dt` as Spark orders their values. */
  def compare(dt: DataType, a: String, b: String): Int =
    dt match {
      case _: NumericType =>
        // integral fast path: pruning runs per manifest entry on the
        // planning path (two comparisons x a million files adds seconds
        // as BigDecimal; as Long.parseLong it is noise); any non-integral
        // rendering falls back to exact decimal comparison
        try java.lang.Long.compare(a.toLong, b.toLong)
        catch {
          case _: NumberFormatException =>
            try BigDecimal(a).compare(BigDecimal(b))
            catch {
              case _: NumberFormatException =>
                // non-finite float/double renderings ("NaN", "Infinity",
                // "-Infinity") are valid stats values BigDecimal rejects:
                // compare as doubles (Double.compare orders NaN greatest,
                // matching Spark's sort order); a pair that still fails to
                // parse claims equality, which every caller treats
                // conservatively (the file stays in)
                try java.lang.Double.compare(
                  java.lang.Double.parseDouble(a), java.lang.Double.parseDouble(b))
                catch { case _: NumberFormatException => 0 }
            }
        }
      // date/timestamp renderings order lexically only inside years
      // 0000-9999 ("+10000-01-01" and "-0001-01-01" sort below "0001"):
      // outside them claim equality, which keeps the file in
      case DateType | TimestampType | TimestampNTZType
          if !(fourDigitYear(a) && fourDigitYear(b)) => 0
      // strings order by code point (UTF8String's byte order), which
      // UTF-16 order breaks where a supplementary-plane character meets
      // one in U+E000..U+FFFF
      case StringType => codePointCompare(a, b)
      // date/timestamp/boolean cast-to-string forms all order lexically
      case _ => a.compareTo(b)
    }

  /** A date/timestamp rendering in the lexically ordered `yyyy-` form. */
  private def fourDigitYear(s: String): Boolean =
    s.length > 4 && s.charAt(4) == '-' && (0 until 4).forall(i => Character.isDigit(s.charAt(i)))

  /** Code point order of two well-formed UTF-16 strings without decoding
    * them: at the first differing unit, surrogates (U+D800..U+DFFF) move
    * above U+E000..U+FFFF.
    */
  private def codePointCompare(a: String, b: String): Int = {
    def fix(c: Char): Int =
      if (c < 0xD800) c else if (c >= 0xE000) c - 0x800 else c + 0x2000
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      val x = a.charAt(i)
      val y = b.charAt(i)
      if (x != y) return fix(x) - fix(y)
      i += 1
    }
    a.length - b.length
  }

  /** Canonical form of a numeric cell: decimal-normal ("-0.0", "0.00"
    * and "0" all map to "0"), so two cells are canonically equal iff
    * [[compare]] orders them equal — the law O(1) partition-IN
    * membership depends on (LakeIndexProps pins it). Non-finite cells
    * canonicalize through Double.toString; unparseable ones stay as is.
    */
  def canonNum(s: String): String =
    try BigDecimal(s).bigDecimal.stripTrailingZeros.toPlainString
    catch {
      case _: NumberFormatException =>
        try java.lang.Double.toString(java.lang.Double.parseDouble(s))
        catch { case _: NumberFormatException => s }
    }

  /** Re-render a cell exactly under a widened type. Only float→double
    * changes the text: a float's shortest rendering re-read as a DOUBLE
    * is a different number, so an unrewritten max could sit BELOW a
    * double query bound the file satisfies — a wrong prune. Integral and
    * decimal widenings change only the parse type.
    */
  def rewiden(s: String, from: DataType, to: DataType): String =
    (from, to) match {
      case (FloatType, DoubleType) =>
        // NaN / Infinity / -Infinity parse and re-render to themselves
        try java.lang.Double.toString(java.lang.Float.parseFloat(s).toDouble)
        catch { case _: NumberFormatException => s }
      case _ => s
    }

  /** xxhash64 (seed 42, the `xxhash64()` function's) of an INTERNAL
    * (catalyst) value at `dt` — the exact hash the write-side
    * BloomFilterAggregate inserted, so a probe compares like for like.
    */
  def bloomHash(dt: DataType, v: Any): Long =
    new XxHash64(Seq(Literal(v, dt))).eval(null).asInstanceOf[Long]

  // ---- the write-time stats pass ---------------------------------------

  /** The manifest entries of an already-written batch directory (a
    * batch write's, or a streaming `toTable` epoch's): one listing,
    * footer row counts and bounds, and one fused stats/Bloom aggregate.
    * `writtenCols` = the columns present in the written files.
    */
  def collectBatchMetadata(
      spark: SparkSession,
      root: String,
      batch: String,
      meta: TableMeta,
      writtenCols: Seq[String]): Seq[Entry] = {
    val dataDir = new Path(new Path(LakeTable.dataRoot(root), "data"), batch)
    val hconf = spark.sparkContext.hadoopConfiguration
    // ONE listing of the just-written batch serves everything below:
    // empty-batch detection, per-file lengths for the manifest, and the
    // footer row-count reads. An EMPTY batch (e.g. a merge whose source
    // has no rows) writes no part files — nothing to record, and reading
    // the empty directory back would fail schema inference.
    val f = dataDir.getFileSystem(hconf)
    val files: Seq[FileStatus] =
      if (!f.exists(dataDir)) Nil
      else {
        val it = f.listFiles(dataDir, true)
        Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
          .filter(s => s.isFile && s.getPath.getName.endsWith(".parquet"))
          .map(s => s: FileStatus).toSeq
      }
    if (files.isEmpty) return Nil

    // exact per-file ROW COUNTS from the parquet footers, read driver-
    // side on a bounded pool — O(files) metadata I/O, zero Spark jobs
    // (the Delta-numRecords idiom). They fill the manifest's count cells
    // and size the Bloom sidecars. Keyed by `__part=<v>/<name>`, NOT the
    // bare file name: one write task covering several partition values
    // emits the SAME part-<task>-<uuid> name into each partition dir.
    // The same footers give the exact min/max of integral, date AND
    // string columns (binary stats order == UTF8String order; oversize
    // stats are OMITTED and fall back), removing the stats scan for the
    // common key/date layout; floats, decimals and timestamps keep the
    // scan. Both paths encode through [[encode]], so the cells agree.
    val present = meta.statsCols.filter(writtenCols.contains)
    val footerEligible: Seq[String] = present.filter { c =>
      meta.schema(c).dataType match {
        case ByteType | ShortType | IntegerType | LongType | DateType | StringType => true
        case _ => false
      }
    }
    // per-file: (rowCount, per-eligible-column Option[(min,max)]) — a
    // column whose stats any block fails to record validly falls back
    // to the scan path for the WHOLE batch (conservative)
    val footerRead: Map[String, (Long, Map[String, Option[(Option[String], Option[String])]])] = {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        math.max(1, math.min(16, files.size)))
      try {
        files.map { st =>
          st -> pool.submit { () =>
            val rdr = org.apache.parquet.hadoop.ParquetFileReader.open(
              org.apache.parquet.hadoop.util.HadoopInputFile.fromStatus(st, hconf))
            try {
              val blocks = rdr.getFooter.getBlocks
              (rdr.getRecordCount, footerEligible.map { c =>
                c -> footerMinMax(blocks, c, meta.schema(c).dataType)
              }.toMap)
            } finally rdr.close()
          }
        }.map { case (st, fut) => partAndName(st.getPath.toString) -> fut.get() }.toMap
      } finally pool.shutdown()
    }
    val counts: Map[String, Long] = footerRead.map { case (k, v) => k -> v._1 }
    // covered = eligible AND every file produced a valid footer bound
    val footerCovered: Seq[String] =
      footerEligible.filter(c => footerRead.values.forall(_._2(c).isDefined))
    val footerStats: Map[String, Map[String, (Option[String], Option[String])]] =
      footerRead.map { case (k, (_, cs)) =>
        k -> footerCovered.map(c => c -> cs(c).get).toMap
      }

    // per-file stats AND Bloom sidecars in ONE fused pass over the batch:
    // min/max of each stats column aggregated in the column's NATIVE type
    // (string-min over numbers would order "10"<"9") and encoded on the
    // driver, plus a Bloom of xxhash64(col) per (file, bloom column),
    // sized for the batch's largest file at 1% fpp and written
    // DISTRIBUTED to the batch's sidecar dir. The #files-row result is
    // persisted only when both consumers need it, so the batch is scanned
    // once. NULLs hash to the seed constant, harmless to an equality
    // lookup; a file without a sidecar row is kept (conservative). A
    // stats/bloom column absent from the written files records nothing.
    val bloomPresent = meta.bloomCols.filter(writtenCols.contains)
    // columns still needing the scan: stats columns the footers could
    // not cover exactly (floats/decimals/timestamps, oversize strings)
    val scanStatsCols = present.filterNot(footerCovered.contains)
    // the batch's DATA schema is known: passing it to the reads below
    // saves one schema-inference job per scan (field ids ride the fields)
    val dataSchema: Option[StructType] =
      if (writtenCols.forall(c => meta.schema.fieldNames.contains(c)))
        Some(StructType(writtenCols.map(c => meta.schema(c).copy(nullable = true))))
      else None
    def readBatch(): DataFrame =
      dataSchema.fold(spark.read)(s => spark.read.schema(s)).parquet(dataDir.toString)
    // equi-width histogram columns: numeric stats columns (CBO's
    // FilterEstimation consumes numeric histograms; string min/max
    // stay min/max-only)
    val histTypes: Map[String, DataType] = present.flatMap(c =>
      meta.schema.fields.find(_.name.equalsIgnoreCase(c))
        .filter(_.dataType.isInstanceOf[NumericType]).map(c -> _.dataType)).toMap
    val histPresent = present.filter(histTypes.contains)
    // a value's bin in the equi-width histogram over [lo, hi]; null
    // exactly when the value is (greatest() alone skips a null into bin 0)
    def bucket(c: String, lo: Double, hi: Double): Column =
      when(col(s"`$c`").isNotNull, least(lit(HistBins - 1), greatest(lit(0),
        floor((col(s"`$c`").cast("double") - lit(lo)) /
          lit(if (hi > lo) hi - lo else 1.0) * lit(HistBins)).cast("int"))))
    // bin-count aggregates for histograms with KNOWN bounds
    def histBinAggs(bounds: Seq[(String, Double, Double)]): Seq[Column] =
      bounds.zipWithIndex.flatMap { case ((c, lo, hi), ci) =>
        (0 until HistBins).map(b =>
          sum(when(bucket(c, lo, hi) === b, 1L).otherwise(0L)).as(s"h_${ci}_$b"))
      }
    // histogram rows are a handful of ~300-byte cells: written DRIVER-
    // SIDE with parquet-mr (a Spark write was a fixed ~100 ms job per DML
    // statement), in the Bloom rows' (rel, col, bits) schema
    val histPending = scala.collection.mutable.ArrayBuffer.empty[(String, String, Array[Byte])]
    def flushHistRows(): Unit = if (histPending.nonEmpty) {
      val dir = sidecarDir(root, batch)
      dir.getFileSystem(hconf).mkdirs(dir)
      val file = new Path(dir, s"hist-${java.util.UUID.randomUUID().toString.take(8)}.parquet")
      val schema = org.apache.parquet.schema.MessageTypeParser.parseMessageType(
        "message hist { optional binary rel (UTF8); optional binary col (UTF8); optional binary bits; }")
      val conf = new org.apache.hadoop.conf.Configuration(hconf)
      org.apache.parquet.hadoop.example.GroupWriteSupport.setSchema(schema, conf)
      val writer = org.apache.parquet.hadoop.example.ExampleParquetWriter.builder(
          org.apache.parquet.hadoop.util.HadoopOutputFile.fromPath(file, conf))
        .withConf(conf).build()
      try histPending.foreach { case (rel, c, bits) =>
        val g = new org.apache.parquet.example.data.simple.SimpleGroup(schema)
        g.add("rel", rel)
        g.add("col", c)
        g.add("bits", org.apache.parquet.io.api.Binary.fromConstantByteArray(bits))
        writer.write(g)
      } finally writer.close()
    }
    // a histogram column's [lo, hi] over per-file (min, max) cells
    def boundsOf(c: String, vals: Iterable[(Option[String], Option[String])])
        : Option[(Double, Double)] = {
      def num(s: String): Option[Double] = decode(histTypes(c), s).map {
        case d: Decimal => d.toDouble
        case n: java.lang.Number => n.doubleValue
      }
      val los = vals.flatMap(_._1.flatMap(num))
      val his = vals.flatMap(_._2.flatMap(num))
      if (los.isEmpty || his.isEmpty) None else Some((los.min, his.max))
    }

    // At most ONE metadata pass beyond the write: the scan runs only for
    // what the footers could not supply, and then the histogram bins of
    // footer-covered columns (bounds known pre-scan) FUSE into it;
    // footer-covered-only batches pay just the histogram fold below.
    val scanNeeded = scanStatsCols.nonEmpty || bloomPresent.nonEmpty
    val histFused: Seq[(String, Double, Double)] =
      if (!scanNeeded) Nil
      else histPresent.filter(footerCovered.contains).flatMap { c =>
        boundsOf(c, footerStats.values.map(_(c))).map { case (lo, hi) => (c, lo, hi) }
      }
    val scannedStats: Map[String, Map[String, (Option[String], Option[String])]] =
      if (!scanNeeded) Map.empty
      else {
        val statAggs = scanStatsCols.zipWithIndex.flatMap { case (sc, i) =>
          Seq(min(col(sc)).as(s"mn$i"), max(col(sc)).as(s"mx$i"))
        }
        val items = math.max(64L, counts.values.foldLeft(0L)(math.max))
        val bits = graft.operators.llm.BloomGate.optimalNumBits(items, 0.01)
        val bloomAggs = bloomPresent.zipWithIndex.map { case (c, i) =>
          val agg = new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(
            GraftColumnBridge.expression(xxhash64(col(c))), Literal(items), Literal(bits))
          GraftColumnBridge.column(agg.toAggregateExpression()).as(s"bf_$i")
        }
        val aggs = statAggs ++ bloomAggs ++ histBinAggs(histFused)
        val perFile = readBatch()
          .groupBy(input_file_name().as("f"))
          .agg(aggs.head, aggs.tail: _*)
        val collectNeeded = scanStatsCols.nonEmpty || histFused.nonEmpty
        val bothConsumers = collectNeeded && bloomPresent.nonEmpty
        if (bothConsumers)
          perFile.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try {
          if (bloomPresent.nonEmpty) {
            val rel = concat(lit(s"data/$batch/"), regexp_extract(col("f"), "([^/]+/[^/]+)$", 1))
            bloomPresent.zipWithIndex.map { case (c, i) =>
              // keyed by the column's sidecar WRITE key — rekeyed after a
              // type widening so stale-typed rows never match a probe
              perFile.select(rel.as("rel"), lit(meta.bloomKeyOf(c)).as("col"), col(s"bf_$i").as("bits"))
            }.reduce(_.unionByName(_))
              .write.mode("overwrite")
              .parquet(sidecarDir(root, batch).toString)
          }
          if (!collectNeeded) Map.empty
          else {
            val rows = perFile
              .select(col("f") +: (scanStatsCols.indices.flatMap(i =>
                Seq(col(s"mn$i"), col(s"mx$i"))) ++
                histFused.indices.flatMap(ci =>
                  (0 until HistBins).map(b => col(s"h_${ci}_$b")))): _*)
              .collect()
            if (histFused.nonEmpty) {
              val base = 1 + 2 * scanStatsCols.size
              histPending ++= histFused.zipWithIndex.map { case ((c, lo, hi), ci) =>
                val cnts = (0 until HistBins).map(b =>
                  rows.map(_.getLong(base + ci * HistBins + b)).sum).toArray
                (HistRel, c, encodeHist(lo, hi, cnts))
              }
            }
            // the collected bounds are external (Row) values: back to
            // internal, then encoded
            val cells = scanStatsCols.map { sc =>
              val dt = meta.schema(sc).dataType
              val internal = CatalystTypeConverters.createToCatalystConverter(dt)
              (v: Any) => Option(v).map(x => encode(dt, internal(x)))
            }
            rows.map { r =>
              partAndName(r.getString(0)) -> scanStatsCols.zipWithIndex.map { case (sc, i) =>
                sc -> (cells(i)(r.get(1 + 2 * i)), cells(i)(r.get(2 + 2 * i)))
              }.toMap
            }.toMap
          }
        } finally if (bothConsumers) perFile.unpersist()
      }
    // merged per-file stats in manifest order: footer-exact first,
    // scanned otherwise
    val stats: Map[String, Seq[(Option[String], Option[String])]] =
      if (present.isEmpty && bloomPresent.isEmpty) Map.empty
      else {
        val keys = counts.keySet ++ scannedStats.keySet
        keys.map { k =>
          k -> meta.statsCols.map(sc =>
            footerStats.get(k).flatMap(_.get(sc))
              .orElse(scannedStats.get(k).flatMap(_.get(sc)))
              .getOrElse((None: Option[String], None: Option[String])))
        }.toMap
      }

    // per-batch equi-width histogram (the CBO skew signal beyond
    // min/max) for the numeric stats columns not fused above: bounds from
    // the per-file min/max, bins from one narrow scan, stored as
    // [[HistRel]] sidecar rows that [[tableHistograms]] folds.
    val histRemaining = histPresent.filterNot(c => histFused.exists(_._1 == c))
    if (histRemaining.nonEmpty && stats.nonEmpty) {
      val bounds: Seq[(String, Double, Double)] = histRemaining.flatMap { c =>
        val i = meta.statsCols.indexWhere(_.equalsIgnoreCase(c))
        boundsOf(c, stats.values.map(_(i))).map { case (lo, hi) => (c, lo, hi) }
      }
      if (bounds.nonEmpty) {
        // single-job bins: one mapPartitions fold of per-partition
        // count arrays (no shuffle, no second AQE stage — a global agg
        // costs two scheduler round-trips for a metadata-sized result)
        val bucketCols = bounds.zipWithIndex.map { case ((c, lo, hi), ci) =>
          bucket(c, lo, hi).as(s"b_$ci")
        }
        val nb = bounds.size
        val bins = HistBins
        val folded = readBatch().select(bucketCols: _*).queryExecution.toRdd
          .mapPartitions { it =>
            val cnts = Array.fill(nb * bins)(0L)
            it.foreach { r =>
              var ci = 0
              while (ci < nb) {
                if (!r.isNullAt(ci)) cnts(ci * bins + r.getInt(ci)) += 1
                ci += 1
              }
            }
            Iterator.single(cnts)
          }.fold(Array.fill(nb * bins)(0L)) { (a, b) =>
            var i = 0; while (i < a.length) { a(i) += b(i); i += 1 }; a
          }
        histPending ++= bounds.zipWithIndex.map { case ((c, lo, hi), ci) =>
          (HistRel, c, encodeHist(lo, hi, folded.slice(ci * bins, (ci + 1) * bins)))
        }
      }
    }
    flushHistRows()

    files.map { s =>
      val p = s.getPath
      val pv = p.getParent.getName match {
        case d if d.startsWith(s"${LakeTable.PartDirCol}=") =>
          d.stripPrefix(s"${LakeTable.PartDirCol}=")
        case d => sys.error(s"unexpected data layout at $p (dir $d)")
      }
      val key = s"${LakeTable.PartDirCol}=$pv/${p.getName}"
      val bounds = stats.getOrElse(key, meta.statsCols.map(_ => (None, None)))
      // decode with Hive path unescaping (NOT URLDecoder: '+' is
      // literal); a null partition's directory IS the sentinel already
      val decoded =
        if (pv == LakeTable.NullPartition) pv else ExternalCatalogUtils.unescapePathName(pv)
      Entry(decoded, s"data/$batch/$key", bounds,
        counts.get(key), bytes = Some(s.getLen), spec = meta.currentSpec)
    }
  }

  /** Exact per-file min/max for an integral/date/string stats column
    * from the parquet row-group statistics of a just-written file,
    * encoded like every other cell. Returns None when any block's
    * statistics cannot be trusted (stats object missing, unexpected
    * physical type, or neither values nor a provable all-null count) —
    * the caller then falls back to the scan path for the whole batch,
    * conservatively.
    */
  private def footerMinMax(
      blocks: java.util.List[org.apache.parquet.hadoop.metadata.BlockMetaData],
      column: String,
      dt: DataType): Option[(Option[String], Option[String])] = {
    var mn = Long.MaxValue
    var mx = Long.MinValue
    // strings: parquet BINARY stats order is UNSIGNED lexicographic,
    // UTF8String's; footers WE just wrote omit (never truncate) stats
    // over 4 KB, so a present binary min/max is the exact value
    var smn: Array[Byte] = null
    var smx: Array[Byte] = null
    var any = false
    val it = blocks.iterator()
    while (it.hasNext) {
      val b = it.next()
      var cc: org.apache.parquet.hadoop.metadata.ColumnChunkMetaData = null
      val cit = b.getColumns.iterator()
      while (cc == null && cit.hasNext) {
        val c = cit.next()
        if (c.getPath.toDotString == column) cc = c
      }
      if (cc == null) return None
      val st = cc.getStatistics
      if (st == null) return None
      if (st.hasNonNullValue) {
        (st.genericGetMin, st.genericGetMax) match {
          case (a: java.lang.Number, z: java.lang.Number)
              if a.isInstanceOf[java.lang.Integer] || a.isInstanceOf[java.lang.Long] =>
            if (a.longValue() < mn) mn = a.longValue()
            if (z.longValue() > mx) mx = z.longValue()
          case (a: org.apache.parquet.io.api.Binary, z: org.apache.parquet.io.api.Binary)
              if dt == StringType =>
            val ab = a.getBytes
            val zb = z.getBytes
            if (smn == null || java.util.Arrays.compareUnsigned(ab, smn) < 0) smn = ab
            if (smx == null || java.util.Arrays.compareUnsigned(zb, smx) > 0) smx = zb
          case _ => return None
        }
        any = true
      } else if (!(st.isNumNullsSet && st.getNumNulls == b.getRowCount)) {
        // no values recorded and the block is not provably all-null
        return None
      }
    }
    if (!any) return Some((None, None)) // all rows null: exactly what a scan records
    val internal: Long => Any = dt match {
      case ByteType => _.toByte
      case ShortType => _.toShort
      case IntegerType | DateType => _.toInt
      case _ => identity
    }
    dt match {
      case StringType =>
        if (smn == null || smx == null) None
        else Some((Some(encode(dt, UTF8String.fromBytes(smn))),
          Some(encode(dt, UTF8String.fromBytes(smx)))))
      case _ => Some((Some(encode(dt, internal(mn))), Some(encode(dt, internal(mx)))))
    }
  }

  /** Last two path components of a file URI: `__part=<v>/<fileName>` —
    * the stats-map key that stays unique when one task writes the same
    * file name into several partition dirs.
    */
  private def partAndName(uri: String): String = uri.split('/').takeRight(2).mkString("/")

  // ---- sidecars ---------------------------------------------------------

  /** The table's sidecar directory, or batch `batch`'s: one (rel, col,
    * bits) parquet dataset per batch, holding its Bloom rows (rel = the
    * data file) and histogram rows (rel = [[HistRel]]).
    */
  def sidecarDir(root: String, batch: String = ""): Path = {
    val idx = new Path(LakeTable.dataRoot(root), "index")
    if (batch.isEmpty) idx else new Path(idx, batch)
  }

  /** (batch, rel, col, bits) of the histogram (`hist`) or Bloom rows
    * for `cols` of the batches `live` keeps: one listing, one read.
    */
  private def sidecarRows(
      spark: SparkSession,
      root: String,
      hist: Boolean,
      cols: Seq[String],
      live: String => Boolean): Seq[(String, String, String, Array[Byte])] = {
    val idx = sidecarDir(root)
    val f = idx.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val dirs =
      if (!f.exists(idx)) Nil
      else f.listStatus(idx).filter(s => s.isDirectory && live(s.getPath.getName))
        .map(_.getPath.toString).toSeq
    if (dirs.isEmpty) Nil
    else spark.read.parquet(dirs: _*)
      .where((if (hist) col("rel") === HistRel else col("rel") =!= HistRel) &&
        col("col").isin(cols.map(x => x: Any): _*))
      .select(input_file_name(), col("rel"), col("col"), col("bits"))
      .collect().toSeq
      .map(r => (r.getString(0).split('/').dropRight(1).last, r.getString(1), r.getString(2),
        r.getAs[Array[Byte]](3)))
  }

  /** The per-file Bloom filters recorded for `names` (a column's sidecar
    * keys): rel path → filter. A table without sidecars (or written
    * before blooms were configured) yields an empty map — every file then
    * reads (conservative). Consult AFTER partition/stats pruning: the
    * loaded set is then bounded by the already-narrowed candidate files.
    */
  def loadBlooms(
      spark: SparkSession,
      root: String,
      names: Seq[String]): Map[String, org.apache.spark.util.sketch.BloomFilter] =
    sidecarRows(spark, root, hist = false, names, _ => true).map { case (_, rel, _, bits) =>
      rel -> org.apache.spark.util.sketch.BloomFilter.readFrom(
        new java.io.ByteArrayInputStream(bits))
    }.toMap

  /** Sentinel `rel` of a histogram row (its bits are [[encodeHist]]
    * bytes) in a batch's sidecar dataset.
    */
  val HistRel = "__hist"

  /** Equi-width bins per batch histogram — enough resolution for CBO
    * selectivity (the fold keeps the same grid), tiny enough that a
    * histogram row is ~300 bytes.
    */
  val HistBins = 32

  def encodeHist(lo: Double, hi: Double, counts: Array[Long]): Array[Byte] = {
    val bos = new java.io.ByteArrayOutputStream()
    val out = new java.io.DataOutputStream(bos)
    out.writeDouble(lo); out.writeDouble(hi); out.writeInt(counts.length)
    counts.foreach(out.writeLong)
    out.flush()
    bos.toByteArray
  }

  def decodeHist(bytes: Array[Byte]): (Double, Double, Array[Long]) = {
    val in = new java.io.DataInputStream(new java.io.ByteArrayInputStream(bytes))
    val lo = in.readDouble(); val hi = in.readDouble()
    (lo, hi, Array.fill(in.readInt())(in.readLong()))
  }

  // fold cache: the sidecar read is a (tiny) Spark job at PLANNING time,
  // so one live-batch-set's fold is computed once, not per query
  private val histCache =
    java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, Map[String, (Double, Double, Array[Double])]](
        16, 0.75f, true) {
        override def removeEldestEntry(
            e: java.util.Map.Entry[String, Map[String, (Double, Double, Array[Double])]])
            : Boolean = size() > 64
      })

  /** Fold the LIVE batches' write-time histograms into one table-level
    * equi-width histogram per column (CBO's skew signal beyond min/max):
    * each batch's counts redistribute proportionally onto the merged
    * [lo, hi] grid, scaled by the batch's LIVE fraction. A column gets
    * none unless EVERY live row-carrying batch recorded one — a partial
    * fold would misstate the distribution.
    */
  def tableHistograms(
      spark: SparkSession,
      root: String,
      entries: Seq[Entry],
      columns: Seq[String]): Map[String, (Double, Double, Array[Double])] = {
    if (columns.isEmpty || entries.isEmpty) return Map.empty
    val liveByBatch: Map[String, Long] = entries
      .groupBy(_.rel.split('/')(1))
      .map { case (b, es) =>
        b -> (if (es.exists(_.rows.isEmpty)) -1L else es.flatMap(_.liveRows).sum)
      }
    // a batch with unknown row counts cannot be liveness-scaled
    if (liveByBatch.valuesIterator.contains(-1L)) return Map.empty
    val key = root + "\n" + liveByBatch.toSeq.sorted.mkString(",") + "\n" +
      columns.sorted.mkString(",")
    val hit = histCache.get(key)
    if (hit != null) return hit
    // per (batch, col) histogram rows of the live batches
    val rows = sidecarRows(spark, root, hist = true, columns, liveByBatch.contains)
    val computed: Map[String, (Double, Double, Array[Double])] =
      columns.flatMap { c =>
        val perBatch = rows.filter(_._3.equalsIgnoreCase(c))
          .map(r => r._1 -> decodeHist(r._4)).toMap
        val needed = liveByBatch.filter(_._2 > 0).keySet
        if (needed.isEmpty || !needed.subsetOf(perBatch.keySet)) None
        else {
          val hs = needed.toSeq.map(b => (perBatch(b), liveByBatch(b)))
          val lo = hs.map(_._1._1).min
          val hi = hs.map(_._1._2).max
          if (!(hi > lo)) None
          else {
            val out = Array.fill(HistBins)(0.0)
            val w = (hi - lo) / HistBins
            hs.foreach { case ((blo, bhi, counts), live) =>
              val total = counts.sum.toDouble
              val scale = if (total <= 0) 0.0 else math.min(1.0, live / total)
              val bw = (if (bhi > blo) bhi - blo else w) / counts.length
              counts.zipWithIndex.foreach { case (n, i) =>
                if (n > 0) {
                  // spread the source cell's mass over the grid cells
                  // it overlaps (proportional redistribution)
                  val cl = blo + i * bw
                  val ch = cl + bw
                  var g = math.max(0, math.min(HistBins - 1, ((cl - lo) / w).toInt))
                  val gEnd = math.max(0, math.min(HistBins - 1, (((ch - lo) / w) - 1e-12).toInt))
                  val span = gEnd - g + 1
                  while (g <= gEnd) { out(g) += n * scale / span; g += 1 }
                }
              }
            }
            Some(c -> ((lo, hi, out)))
          }
        }
      }.toMap
    histCache.put(key, computed)
    computed
  }
}
