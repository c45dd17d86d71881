package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.functions.exprs

/** Multi-dimensional data-clustering write path (Z-order layout).
  *
  * A 100 TB fact table is usually partitioned on one coarse axis (date)
  * and then scanned with predicates on OTHER columns; whether those
  * scans prune anything is decided entirely by how rows were laid out
  * inside the partition at write time. `zorderWrite` partitions on
  * ranges of the Morton key of two selective columns and sorts each
  * range locally, so
  * every output file covers a small axis-aligned tile of the (x, y)
  * space and its parquet footer min/max stats are tight in BOTH
  * columns — a filter on either one (or a box on both) skips most row
  * groups at scan time, with zero read-side cooperation (plain
  * `spark.read.parquet` + the default filter pushdown does the
  * pruning). LayoutSpec measures the effect via the scan operator's
  * numOutputRows metric; the write itself is one quantile pass plus
  * one shuffle, same cost class as any global sort.
  */
object Layout {

  /** Morton key of two columns, via the native codegen expression. */
  def zorderKey(x: Column, y: Column): Column = exprs.zorder2(x, y)

  /** k-dimensional Morton key (2-4 columns, fused intrinsics). */
  def zorderKey(cols: Seq[Column]): Column = exprs.zorderN(cols)

  /** Bit-by-bit built-in composition of the k-dim interleave — the
    * parity REFERENCE for EngineProps (an independent derivation of the
    * same bit mapping: bit j of dim i lands at position j*k + i), not a
    * production path.
    */
  def zorderKeyBuiltinN(cols: Seq[Column]): Column = {
    val k = cols.size
    val bits = 64 / k
    val terms = for {
      (c, i) <- cols.zipWithIndex
      j <- 0 until bits
    } yield shiftleft(
      shiftright(c.cast("long"), j).bitwiseAND(lit(1L)), j * k + i)
    terms.reduce(_.bitwiseOR(_))
  }

  /** Pure built-in composition of the same interleave (shiftleft /
    * bitwise ops, 5 magic-mask steps per dimension) — the parity
    * reference for EngineProps; the native form exists because one
    * fused intrinsic beats a 12-node expression tree in codegen size,
    * not because built-ins can't express it.
    */
  def zorderKeyBuiltin(x: Column, y: Column): Column = {
    def spreadCol(c0: Column): Column = {
      val steps = Seq(
        16 -> 0x0000ffff0000ffffL,
        8 -> 0x00ff00ff00ff00ffL,
        4 -> 0x0f0f0f0f0f0f0f0fL,
        2 -> 0x3333333333333333L,
        1 -> 0x5555555555555555L)
      steps.foldLeft(c0.cast("long").bitwiseAND(lit(0xffffffffL))) { case (c, (sh, m)) =>
        c.bitwiseOR(shiftleft(c, sh)).bitwiseAND(lit(m))
      }
    }
    spreadCol(x).bitwiseOR(shiftleft(spreadCol(y), 1))
  }

  /** Write `df` as `files` parquet files clustered by the Z-order of
    * (x, y). Partition on contiguous key ranges (tight per-file min/max
    * on both source columns), sort within each partition (tight
    * ROW-GROUP stats too, when files exceed one row group), then drop
    * the transient key before writing.
    */
  def zorderWrite(df: DataFrame, x: Column, y: Column, files: Int, path: String): Unit =
    zorderWrite(df, Seq(x, y), files, path)

  /** [[zorderWrite]] over 2-4 clustering columns. */
  def zorderWrite(df: DataFrame, cols: Seq[Column], files: Int, path: String): Unit = {
    val keyed = df.withColumn("__zkey", zorderKey(cols))
    keyed.repartitionById(files, keyRangeId(keyed, "__zkey", files))
      .sortWithinPartitions("__zkey")
      .drop("__zkey")
      .write.mode("overwrite").parquet(path)
  }

  /** Range id in `[0, files)` of each row's `key`: the count of the
    * key's `files`-quantile bounds strictly below it, so range j holds
    * keys in (bound(j-1), bound(j)] as in a range exchange. The bounds
    * come from one percentile_approx pass (rank error under 1% of a
    * range), not from the range exchange's sampler: that sampler seeds
    * on the shuffle RDD's id, so the same input got different file
    * boundaries, and different pruning, depending on how many RDDs the
    * session had built before.
    */
  private def keyRangeId(keyed: DataFrame, key: String, files: Int): Column =
    if (files <= 1) lit(0)
    else {
      val fractions = Array.tabulate(files - 1)(i => (i + 1).toDouble / files)
      val bounds = keyed
        .agg(percentile_approx(col(key), lit(fractions), lit(files * 100)))
        .head().getSeq[Long](0).toArray
      val rangeOf = udf { (k: Long) =>
        var lo = 0
        var hi = bounds.length
        while (lo < hi) {
          val mid = (lo + hi) >>> 1
          if (bounds(mid) < k) lo = mid + 1 else hi = mid
        }
        lo
      }
      coalesce(rangeOf(col(key)), lit(0))
    }

  /** Single-axis comparison layout: same file count, sorted by one
    * column only (what a naive `ORDER BY x` write produces).
    */
  def linearWrite(df: DataFrame, x: Column, files: Int, path: String): Unit =
    df.repartitionByRange(files, x)
      .sortWithinPartitions(x)
      .write.mode("overwrite").parquet(path)

  /** Small-file compaction: rewrite the parquet directory at `path` into
    * `ceil(totalBytes / targetFileBytes)` files, optionally re-clustering
    * on `clusterBy` so footer min/max pruning SURVIVES the rewrite.
    *
    * Why this is a first-class operator at 100 TB: every incremental
    * path in this engine (streaming sinks, the q113 signature-table
    * appends, per-batch ingest) produces one-file-per-trigger layouts,
    * and scan cost degrades with file count twice over — task-scheduling
    * overhead per file, and footer stats that stop pruning because each
    * tiny file spans the whole key range. Periodic compaction is the
    * maintenance job every lakehouse runs.
    *
    * Shape: file sizes come from a driver-side directory listing (cheap,
    * metadata-only); the rewrite is ONE range shuffle when clustered
    * (same cost class as zorderWrite) or a shuffle-free `coalesce` when
    * not — coalesce merges existing partitions in place, so unclustered
    * compaction never re-shuffles data. The rewrite goes to `outPath`
    * (compact-then-swap, the transactional idiom: the caller atomically
    * renames after success rather than rewriting in place — a mid-job
    * failure leaves the source untouched).
    *
    * Returns (filesBefore, filesAfter-target). LayoutSpec asserts
    * content equality, the file-count collapse, and that clustered
    * compaction restores pruning that the small-file layout lost.
    */
  def compact(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      outPath: String,
      targetFileBytes: Long,
      clusterBy: Seq[Column] = Nil): (Int, Int) = {
    val hadoopPath = new org.apache.hadoop.fs.Path(path)
    val fs = hadoopPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // Recursive listing: a PARTITIONED dataset keeps its data files in
    // key=value subdirectories, where a flat listStatus sees zero
    // .parquet files — totalBytes=0 would silently compact everything
    // into one file regardless of size.
    val it = fs.listFiles(hadoopPath, /* recursive = */ true)
    val dataFiles = Iterator.continually(it)
      .takeWhile(_.hasNext).map(_.next())
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
      .toArray
    require(dataFiles.nonEmpty,
      s"compact($path): no .parquet data files found — mis-pointed path?")
    val totalBytes = dataFiles.map(_.getLen).sum
    val files = math.max(1, math.ceil(totalBytes.toDouble / targetFileBytes).toInt)
    val df = spark.read.parquet(path)
    val out =
      if (clusterBy.nonEmpty)
        df.repartitionByRange(files, clusterBy: _*).sortWithinPartitions(clusterBy: _*)
      else df.coalesce(files)
    out.write.mode("overwrite").parquet(outPath)
    (dataFiles.length, files)
  }
}
