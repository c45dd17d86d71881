package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.operators.{AggOps, AsOfJoin, RangeJoin, Resample, SketchOps}
import graft.sources.Sources
import graft.functions.exprs

/** Engine-extension queries: the §2b operator classes the reference has
  * NO instance of ("—" rows — rollup/cube, semi/anti joins, window
  * functions, set operations, as-of join, top-k), each exercised against
  * the DuckDB oracle so "supported" means hash-verified, not just
  * compilable.
  *
  * Money amounts are aggregated as exact cents (BIGINT) wherever a result
  * is hash-compared — double SUM accumulation order differs between
  * engines; longs don't.
  */
object ExtQueries {

  private def t(s: SparkSession, dir: String, name: String) = Sources.table(s, dir, name)

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // ROLLUP hierarchy totals: detail + per-flag subtotal + grand total in
    // one pass (Catalyst expands to a single Expand + hash-agg — one
    // shuffle regardless of grouping-set count).
    "q31_rollup" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .rollup(col("l_returnflag"), col("l_linestatus"))
        .agg(count(lit(1)).as("cnt"), sum(col("l_quantity").cast("long")).as("qty"))
        .select(
          coalesce(col("l_returnflag"), lit("ALL")).as("rf"),
          coalesce(col("l_linestatus"), lit("ALL")).as("ls"),
          col("cnt"),
          col("qty"))
        .orderBy("rf", "ls")
    },

    // Existence joins: customers partitioned into has-orders/no-orders via
    // left_semi + left_anti (no payload from the right side crosses the
    // shuffle — the planner keeps only the join key).
    "q32_semi_anti" -> { (s, dir) =>
      val c = t(s, dir, "customer").select("c_custkey")
      val o = t(s, dir, "orders").select("o_custkey")
      val semi = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(lit("has_orders").as("tag"), col("c_custkey"))
      val anti = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(lit("no_orders").as("tag"), col("c_custkey"))
      semi.unionByName(anti).orderBy("tag", "c_custkey")
    },

    // Analytic window functions: per-customer order sequence number and
    // running spend. One hash-partition by customer, one sort per
    // partition, both windows share the single Exchange.
    "q33_window_rank" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      t(s, dir, "orders")
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          row_number().over(w).as("seq"),
          sum(round(col("o_totalprice") * 100).cast("long")).over(run).as("run_cents"))
        .orderBy("o_custkey", "seq")
    },

    // The distribution-ranking window family — ntile / dense_rank /
    // percent_rank / cume_dist — per customer over order value. One
    // window spec feeds all four (one shuffle on custkey, one in-
    // partition sort). percent_rank and cume_dist are single IEEE
    // divisions of integer rank/count ((r-1)/(n-1), r/n) — both engines
    // compute the same double; round(6) written identically both sides.
    // The DESC value order ends in the unique orderkey, so ranks are
    // total and the hash can't flap on ties.
    "q103_window_family" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      t(s, dir, "orders")
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          dense_rank().over(w).as("drank"),
          round(percent_rank().over(w), 6).as("prank"),
          round(cume_dist().over(w), 6).as("cdist"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Event-time RANGE frame: rolling 7-day spend per customer — the
    // frame is bounded by ORDER-key VALUE distance (day_no in [cur-6,
    // cur]), not row count, so sparse/dense order histories window
    // identically and same-day orders are peers (both engines give
    // peers the same frame result — no tie ambiguity). Plan shape is
    // the same as any window: one hash-partition by customer, one
    // in-partition sort; the frame bound adds no extra shuffle.
    "q105_range_frame" -> { (s, dir) =>
      val base = t(s, dir, "orders").select(
        col("o_custkey"),
        col("o_orderkey"),
        datediff(to_date(col("o_orderdate")), to_date(lit("1995-01-01"))).as("day_no"),
        round(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = Window.partitionBy("o_custkey").orderBy("day_no").rangeBetween(-6, 0)
      base.select(
        col("o_custkey"),
        col("o_orderkey"),
        col("day_no"),
        sum(col("cents")).over(w).as("win_cents"),
        count(lit(1)).over(w).as("win_orders"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Histogram binning: fixed-width buckets over l_quantity via the
    // built-in width_bucket (codegen'd arithmetic in the scan stage —
    // bucket = floor(n*(v-lo)/(hi-lo))+1), then one hash-agg for
    // count/bounds/mass per bucket. The distribution-profiling
    // companion to q60's scalar profile; 10 output rows regardless of
    // input size, so the result never grows with the corpus.
    "q106_histogram" -> { (s, dir) =>
      t(s, dir, "lineitem").select(
          width_bucket(col("l_quantity"), lit(1.0), lit(51.0), lit(10)).cast("int").as("bucket"),
          col("l_quantity"),
          round(col("l_extendedprice") * 100).cast("long").as("price_cents"))
        .groupBy("bucket")
        .agg(
          count(lit(1)).as("cnt"),
          min(col("l_quantity")).as("min_q"),
          max(col("l_quantity")).as("max_q"),
          sum(col("price_cents")).as("cents"))
        .orderBy("bucket")
    },

    // Statistical moments (mean / sample stddev / correlation) derived
    // from EXACT integer/decimal power sums (n, Σx, Σx², Σy, Σy², Σxy)
    // instead of the built-in floating aggregates: stddev_samp/corr
    // merge Welford states in partition order, so their low bits vary
    // run to run and engine to engine — power sums are
    // order-independent integers, making the moments hash-verifiable
    // and partition-count-independent. One partial-first hash-agg;
    // the only doubles are the final few divisions, identical IEEE in
    // both engines. Cents sums ride decimal(38,0): Σc² at bench scale
    // (~6e18) already brushes 2^63, the same 100 TB overflow boundary
    // the money discipline documents.
    "q108_stats_moments" -> { (s, dir) =>
      val q = col("l_quantity").cast("long")
      val c = round(col("l_extendedprice") * 100).cast("decimal(19,0)")
      val n = col("n")
      val dbl = (x: org.apache.spark.sql.Column) => x.cast("double")
      t(s, dir, "lineitem")
        .groupBy(col("l_returnflag").as("rf"))
        .agg(
          count(lit(1)).as("n"),
          sum(q).as("sq"),
          sum(q * q).as("sqq"),
          sum(c).as("sc"),
          sum(c * c).as("scc"),
          sum(q.cast("decimal(19,0)") * c).as("sqc"))
        .select(
          col("rf"),
          n,
          round(dbl(col("sq")) / n, 6).as("mean_qty"),
          round(sqrt(dbl(n * col("sqq") - col("sq") * col("sq")) / dbl(n * (n - 1))), 6)
            .as("stddev_qty"),
          round(
            dbl(n * col("sqc") - col("sq") * col("sc")) /
              (sqrt(dbl(n * col("sqq") - col("sq") * col("sq"))) *
                sqrt(dbl(n * col("scc") - col("sc") * col("sc")))),
            6).as("corr_qty_price"))
        .orderBy("rf")
    },

    // Z-order (Morton) clustering key: the bit-interleave that drives
    // the multi-dimensional layout path (Layout.zorderWrite — every
    // output file becomes an axis-aligned tile of (x, y) space, so
    // parquet min/max stats prune scans on EITHER column; LayoutSpec
    // measures the row-group skipping). This query hash-verifies the
    // key math itself against a DuckDB re-derivation of the same
    // 5-step magic-mask interleave — the layout contract is exactly
    // "same bits in, same key out", engine-independent.
    "q110_zorder" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_orderkey") % 97 === 0)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          col("l_partkey"),
          col("l_suppkey"),
          exprs.zorder2(col("l_partkey"), col("l_suppkey")).as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // 3-dimensional Z-order key (zorder3 native expression — 21 bits
    // per axis, the standard 3-D Morton magic-mask sequence): the
    // clustering key behind Layout.zorderWrite(cols) and OPTIMIZE
    // zorderCols. Hash-verified bit-for-bit against a DuckDB
    // re-derivation of the same interleave, q110's contract extended to
    // three axes.
    "q154_zorder3" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .where(col("l_orderkey") % 97 === 0)
        .select(
          col("l_orderkey"),
          col("l_linenumber"),
          exprs.zorderN(Seq(
            col("l_partkey"), col("l_suppkey"), col("l_linenumber"))).as("zkey"))
        .orderBy("l_orderkey", "l_linenumber")
    },

    // Transactional MERGE INTO (LakeTable): init a copy-on-write table
    // from orders partitioned by status, merge one deterministic source
    // batch — updates (keys % 10 = 0: price += 100, status forced to 'F',
    // i.e. PARTITION-MOVING for open orders) plus inserts (keys % 10 = 3
    // re-keyed into a brand-new 'N' partition) — then read the committed
    // snapshot back and aggregate. The oracle re-derives the merged table
    // relationally (source wins on key ∪ untouched target rows), so the
    // whole manifest/commit/copy-on-write machinery is hash-checked: a
    // lost update, double-applied insert, phantom from an uncommitted
    // batch, or a row dropped by the partition rewrite all shift cnt or
    // cents. Crash-safety (uncommitted batch invisible, concurrent-commit
    // refusal, vacuum) is pinned in LakeTableSpec.
    "q130_lake_merge" -> { (s, dir) =>
      val root = s"/root/repo/target/staging/q130_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true) // fresh table per verify run
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      graft.operators.LakeTable.init(s, root, orders, "o_orderstatus")
      val updates = orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_orderstatus", lit("F"))
      val inserts = orders.where(col("o_orderkey") % 10 === 3)
        .select(
          (col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"),
          lit("N").as("o_orderstatus"),
          col("o_totalprice"))
      graft.operators.LakeTable.merge(
        s, root, updates.unionByName(inserts), Seq("o_orderkey"), "o_orderstatus")
      graft.operators.LakeTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("o_orderstatus")
    },

    // Time travel across the MERGE: the same init + merge as q130, then
    // BOTH committed versions read back via their immutable manifests and
    // aggregated side by side — v1 must still be exactly the pre-merge
    // table (an in-place mutation of any carried file would shift its
    // hash), v2 exactly the merged one. Snapshot isolation's audit face,
    // oracle-checked end to end.
    "q131_lake_history" -> { (s, dir) =>
      val root = s"/root/repo/target/staging/q131_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      graft.operators.LakeTable.init(s, root, orders, "o_orderstatus")
      val updates = orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_orderstatus", lit("F"))
      val inserts = orders.where(col("o_orderkey") % 10 === 3)
        .select(
          (col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"),
          lit("N").as("o_orderstatus"),
          col("o_totalprice"))
      graft.operators.LakeTable.merge(
        s, root, updates.unionByName(inserts), Seq("o_orderkey"), "o_orderstatus")
      def rollup(v: Int) = graft.operators.LakeTable.readVersion(s, root, v)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .select(lit(v).as("version"), col("o_orderstatus"), col("cnt"), col("cents"))
      rollup(1).unionByName(rollup(2)).orderBy("version", "o_orderstatus")
    },

    // Transactional COW DELETE on the lake table: the compliance path
    // (opt-out / contamination removal must rewrite bytes, not filter at
    // read time). The predicate touches ONLY the 'F' partition, so the
    // other partitions' files carry by path; the committed snapshot's
    // rollup is hash-checked against the relational complement.
    "q133_lake_delete" -> { (s, dir) =>
      val root = s"/root/repo/target/staging/q133_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      graft.operators.LakeTable.init(s, root, orders, "o_orderstatus")
      graft.operators.LakeTable.delete(s, root,
        col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0, "o_orderstatus")
      graft.operators.LakeTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("o_orderstatus")
    },

    // Transactional OPTIMIZE (small-file compaction): init from one
    // quarter-slice of orders, append the other three quarters as three
    // blind-insert commits — the streaming-sink accumulation pattern,
    // one file per touched partition PER COMMIT — then compact. The
    // result joins the post-OPTIMIZE rollup with the REAL per-partition
    // file count from the committed manifest; the oracle pins n_files to
    // literal 1, so both contracts are hash-checked at once: compaction
    // must not change a single row (cnt/cents re-derived relationally
    // over the union of the four slices) and must actually fold each
    // partition's accumulated files into one.
    "q134_lake_optimize" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q134_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      LakeTable.init(s, root, orders.where(col("o_orderkey") % 4 === 0), "o_orderstatus")
      (1 to 3).foreach(k =>
        LakeTable.append(s, root, orders.where(col("o_orderkey") % 4 === k)))
      LakeTable.optimize(s, root, minFilesPerPartition = 2)
      val snap = LakeTable.snapshot(s, root)
      val counts = snap.entries.groupBy(_.part).toSeq
        .map { case (part, es) => (part, es.size) }
      val filesDf = s.createDataFrame(counts).toDF("o_orderstatus", "n_files")
      LakeTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .join(filesDf, "o_orderstatus")
        .orderBy("o_orderstatus")
    },

    // Change-data feed derived from the manifests alone: the q130 merge
    // (updates %10=0 price+100 forced to 'F' — partition-moving — plus
    // inserts %10=3 re-keyed into 'N'), then tableChanges(v1, v2) rolled
    // up by change type. The oracle re-derives each class relationally:
    // every %10=0 key yields exactly one preimage (original price) and
    // one postimage (+100), every %10=3 key one insert, and NOTHING
    // else — a carried-but-rewritten neighbor leaking through as a
    // phantom update, a missed partition-mover, or a double-counted
    // insert all shift cnt or cents.
    "q135_lake_cdc" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q135_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      LakeTable.init(s, root, orders, "o_orderstatus")
      val updates = orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_orderstatus", lit("F"))
      val inserts = orders.where(col("o_orderkey") % 10 === 3)
        .select(
          (col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"),
          lit("N").as("o_orderstatus"),
          col("o_totalprice"))
      LakeTable.merge(s, root, updates.unionByName(inserts), Seq("o_orderkey"), "o_orderstatus")
      LakeTable.tableChanges(s, root, 1L, 2L, Seq("o_orderkey"))
        .groupBy("_change_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("_change_type")
    },

    // Manifest min/max data skipping: the table is partitioned by a key
    // bucket (floor(key/500)) with per-file o_orderkey stats recorded at
    // write time, so a key-range read can prune files from METADATA
    // alone — no parquet footer is opened for a skipped file. The result
    // row carries the rollup of readRange(100, 399) (hash-checked
    // against the plain filtered aggregate) plus the REAL pruning
    // outcome — files_skipped = (pruned entry list is strictly smaller)
    // — which the oracle pins to literal true: if the stats pipeline
    // broke (no stats recorded, the file pruner keeping everything), the
    // boolean flips and the hash fails even though the VALUES would
    // still be right via the residual predicate.
    "q136_lake_skipping" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q136_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val base = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
      // bucket width scales with the key range so the partition count
      // stays ~10 at any SF (a fixed width made 300 tiny partitions at
      // sf0.1 — partition-count explosion, the classic over-partitioning
      // trap). Any width >= 500 keeps the probed [100,399] range inside
      // bucket 0, and the oracle pins only the aggregate + the skip flag.
      val maxKey = base.agg(max("o_orderkey")).head.getLong(0)
      val width = math.max(500L, (maxKey + 1L) / 10L)
      val orders = base.withColumn("key_bucket", floor(col("o_orderkey") / width))
      LakeTable.init(s, root, orders, "key_bucket", statsCol = Some("o_orderkey"))
      val snap = LakeTable.snapshot(s, root)
      val pruned = snap.entries.filter(LakeTable.predicateFilePruner(
        s, root, snap.meta.get, col("o_orderkey").between(100, 399)))
      val skipped = pruned.size < snap.entries.size
      LakeTable.readRange(s, root, 100, 399)
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("files_skipped", lit(skipped))
    },

    // Versioned changelog (changesSince): three commits — init, the q135
    // merge, then a COW DELETE of the odd-keyed rows in the inserted 'N'
    // partition — replayed as a per-commit feed with _commit_version
    // stamps. Unlike q135's pairwise net diff, this pins the WALK: the
    // same key can appear at v2 (insert) and v3 (delete) and must show
    // BOTH events; survivors of the v3 partition rewrite are suppressed
    // as before. The oracle re-derives every (version, class) cell.
    "q137_lake_changelog" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q137_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      LakeTable.init(s, root, orders, "o_orderstatus")
      val updates = orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_orderstatus", lit("F"))
      val inserts = orders.where(col("o_orderkey") % 10 === 3)
        .select(
          (col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"),
          lit("N").as("o_orderstatus"),
          col("o_totalprice"))
      LakeTable.merge(s, root, updates.unionByName(inserts), Seq("o_orderkey"), "o_orderstatus")
      LakeTable.delete(s, root,
        col("o_orderstatus") === "N" && col("o_orderkey") % 2 === 1, "o_orderstatus")
      LakeTable.changesSince(s, root, 1L, keyCols = Seq("o_orderkey"))
        .groupBy("_commit_version", "_change_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("_commit_version", "_change_type")
    },

    // Schema evolution through MERGE: the source carries a column the
    // table lacks (priority_flag), which widens the committed schema —
    // files written under the old schema read back NULL for it. The
    // rollup folds the flag through coalesce(-1) so all three contracts
    // hash-check: updated rows carry their computed flag, carried/
    // survivor rows read NULL (-1 per row), and the data columns match
    // the relational merge derivation.
    "q138_lake_evolution" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q138_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      LakeTable.init(s, root, orders, "o_orderstatus")
      val updates = orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_orderstatus", lit("F"))
        .withColumn("priority_flag", col("o_orderkey") % 3)
      LakeTable.merge(s, root, updates, Seq("o_orderkey"), "o_orderstatus")
      LakeTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          sum(coalesce(col("priority_flag"), lit(-1L))).as("flags"))
        .orderBy("o_orderstatus")
    },

    // Streaming-driven correctness: the events fixture flows through a
    // REAL writeStream — file source -> normalize -> lakeAppendSink
    // (foreachBatch + transactional exactly-once append) — under
    // Trigger.AvailableNow, and the MATERIALIZED lake table is what the
    // oracle checks. This closes the batch-vs-streaming verification
    // asymmetry: every other streaming op is spec-verified (StreamSpec);
    // here the hourly rollup of what the stream actually committed is
    // hash-compared against DuckDB over the raw fixture. A dropped,
    // duplicated, or double-committed micro-batch shifts cnt/users/cents.
    "q139_stream_lake_hourly" -> { (s, dir) =>
      import graft.operators.LakeTable
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"/root/repo/target/staging/q139_$tag"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      // stage the fixture into an arrival directory (the file-stream
      // contract: a directory files land in, not a single-file glob)
      val inDir = new org.apache.hadoop.fs.Path(base, "in")
      fs.mkdirs(inDir)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
        fs, new org.apache.hadoop.fs.Path(inDir, "events.parquet"),
        false, s.sparkContext.hadoopConfiguration)
      val root = s"$base/lake"
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      // lake table starts empty at the NORMALIZED schema (epoch-nanos ts)
      LakeTable.init(s, root,
        Sources.table(s, dir, "events").limit(0), "event_type")
      val stream = Sources.normalizeEventTs(
        s.readStream.schema(batchSchema).parquet(inDir.toString))
      val q = graft.streaming.StreamOps.lakeAppendSink(stream, root, appId = s"q139_$tag")
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      LakeTable.read(s, root)
        .groupBy(
          col("event_type"),
          date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd HH").as("hr"))
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("users"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .orderBy("event_type", "hr")
    },

    // Streaming STATE-STORE correctness: where q139 drives the stateless
    // foreachBatch append path, this drives the watermark + windowed-agg
    // path — tumbling counts in APPEND output mode through a real
    // writeStream to the parquet file sink under Trigger.AvailableNow.
    // Append mode only releases a window once the watermark passes its
    // end, so the materialized table is exactly the CLOSED windows:
    // window_end <= max(ts) - lateness (the final open 23:00 window of
    // Jan 30 must be withheld). The oracle re-derives that set
    // relationally; a window emitted early, emitted twice (state not
    // evicted), dropped (no-data flush batch missing), or mis-bucketed
    // shifts rows or cnt.
    "q140_stream_window_counts" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"/root/repo/target/staging/q140_$tag"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val inDir = new org.apache.hadoop.fs.Path(base, "in")
      fs.mkdirs(inDir)
      org.apache.hadoop.fs.FileUtil.copy(
        fs, new org.apache.hadoop.fs.Path(s"$dir/events.parquet"),
        fs, new org.apache.hadoop.fs.Path(inDir, "events.parquet"),
        false, s.sparkContext.hadoopConfiguration)
      val batchSchema = s.read.parquet(s"$dir/events.parquet").schema
      val stream = Sources.normalizeEventTs(
          s.readStream.schema(batchSchema).parquet(inDir.toString))
        .withColumn("event_ts", timestamp_micros(expr("ts div 1000")))
      val counts = graft.streaming.StreamOps.tumblingCounts(
        stream, "event_ts", "1 hour", Seq(col("event_type")), lateness = "30 minutes")
      val outDir = s"$base/out"
      val q = counts
        .select(col("window.start").as("w_start"), col("event_type"), col("cnt"))
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .select(date_format(col("w_start"), "yyyy-MM-dd HH").as("w_start"),
          col("event_type"), col("cnt"))
        .orderBy("w_start", "event_type")
    },

    // Avro STREAMING ingest correctness: events staged as avro container
    // files in a landing dir, consumed through the graft-avro
    // MICRO-BATCH source (readStream → real writeStream, parquet sink,
    // Trigger.AvailableNow with the pinned-end discovery), then the
    // materialized sink is rolled up against DuckDB over the raw
    // fixture. Stateless pass-through, so the oracle is a plain batch
    // rollup — a file admitted twice (offset/log drift), a dropped
    // discovery batch, or a mis-decoded avro value shifts cnt/cents.
    "q142_avro_stream_ingest" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"/root/repo/target/staging/q142_$tag"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      // land the fixture as avro (normalized ts = epoch-nanos long, the
      // engine's canonical events shape)
      val inDir = s"$base/landing"
      Sources.table(s, dir, "events")
        .write.format("graft-avro").mode("overwrite").save(inDir)
      val outDir = s"$base/out"
      val q = s.readStream.format("graft-avro").load(inDir)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$base/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy(
          col("event_type"),
          date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd HH").as("hr"))
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("users"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .orderBy("event_type", "hr")
    },

    // The graft-lake CONNECTOR face end-to-end (DSv2 BatchScan over the
    // manifest-pruned LakeFileIndex, sources/lake): the table is CREATED
    // through df.write.format("graft-lake") (init via partitionCol/
    // statsCols options), grown through mode("append"), and read back
    // through spark.read.format("graft-lake") — where the scan is
    // manifest-pruned AUTOMATICALLY from a plain .where() predicate (no
    // readRange/readPartitions entry point): the BatchScan's planned file
    // count is pinned strictly below the snapshot's file count and folded into the
    // hash as files_skipped (if pruning silently broke, the flag flips
    // and the hash fails even though the residual predicate keeps the
    // VALUES right). versionAsOf rides along: v1/v2 row counts prove time
    // travel through the reader option. Appended keys sit above every v1
    // bucket AND the probed range, so they change v2_rows but not the
    // rollup — and their files are among the skipped.
    "q143_lake_connector" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q143_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val base = t(s, dir, "orders").select("o_orderkey", "o_custkey", "o_totalprice")
      // bucket width scales with the key range (the q136 sizing argument:
      // ~10 partitions at any SF, probed range inside bucket 0)
      val maxKey = base.agg(max("o_orderkey")).head.getLong(0)
      val width = math.max(500L, (maxKey + 1L) / 10L)
      val orders = base.withColumn("key_bucket", floor(col("o_orderkey") / width))
      orders.write.format("graft-lake")
        .option("partitionCol", "key_bucket").option("statsCols", "o_orderkey")
        .save(root)                                                        // v1
      orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + lit(20L) * width)
        .withColumn("key_bucket", floor(col("o_orderkey") / width))
        .write.format("graft-lake").mode("append").save(root)              // v2
      val lake = s.read.format("graft-lake").load(root)
      val filtered = lake.where(col("o_orderkey").between(100, 399))
      filtered.collect()
      // distinct data files the BatchScan's planned partitions read
      val scanned = filtered.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.partitions.toSeq.collect {
            case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
              dp.inputPartitions.collect {
                case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                  fp.files.map(_.urlEncodedPath).toSeq
              }.flatten
          }.flatten.distinct.size.toLong
      }.sum
      val total = LakeTable.snapshot(s, root).entries.size.toLong
      val v1Rows = s.read.format("graft-lake").option("versionAsOf", 1).load(root).count()
      val v2Rows = lake.count()
      filtered
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          min(col("o_orderkey")).as("min_key"),
          max(col("o_orderkey")).as("max_key"))
        .withColumn("files_skipped", lit(scanned < total))
        .withColumn("v1_rows", lit(v1Rows))
        .withColumn("v2_rows", lit(v2Rows))
    },

    // Per-file BLOOM-index point lookup (the Delta/Iceberg bloom-index
    // shape): the table is laid out ADVERSARIALLY for min/max stats —
    // partition = o_orderkey % 8, so every file's key range spans the
    // whole domain and range pruning can skip NOTHING (pinned literally
    // as stats_useless) — yet the per-file Bloom sidecars exclude all
    // but ~fpp of the non-containing files from metadata alone
    // (bloom_skipped pinned TRUE). The probed key is derived (min key >=
    // 100) so the entry works at any SF; the oracle re-derives the
    // looked-up row relationally and pins both flags: if blooms stopped
    // being written or consulted, bloom_skipped flips and the hash
    // fails even though the residual predicate keeps the VALUES right.
    "q145_lake_bloom_lookup" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q145_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .withColumn("key_mod", (col("o_orderkey") % 8).cast("int"))
      LakeTable.init(s, root, orders, "key_mod",
        statsCol = Some("o_orderkey"), bloomCols = Seq("o_orderkey"))
      val probeKey = orders.where(col("o_orderkey") >= 100)
        .agg(min("o_orderkey")).head.getLong(0)
      val snap = LakeTable.snapshot(s, root)
      def kept(p: Column) =
        snap.entries.count(LakeTable.predicateFilePruner(s, root, snap.meta.get, p))
      val statsUseless =
        kept(col("o_orderkey").between(probeKey, probeKey)) == snap.entries.size
      val bloomKept = kept(col("o_orderkey") === probeKey)
      LakeTable.readPoint(s, root, "o_orderkey", probeKey)
        .select(
          col("o_orderkey"),
          col("o_custkey"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
        .withColumn("stats_useless", lit(statsUseless))
        .withColumn("bloom_skipped", lit(bloomKept < snap.entries.size))
    },

    // Metadata-only COUNT(*) (the numRecords pattern): per-file row
    // counts recorded at write time make total and per-partition counts
    // a MANIFEST-FOLD — zero data I/O, the query a 100 TB table answers
    // in milliseconds where a scan-count reads every footer. The table
    // is built across two commits (init + append) so carried and fresh
    // entries both contribute; the oracle re-derives every partition's
    // count and the total relationally — a file written without its
    // count, a carried entry losing it, or a double-counted batch shifts
    // n_meta/total_meta, and from_metadata pins that the metadata path
    // (not a fallback scan) produced the numbers.
    "q146_lake_meta_count" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q146_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      LakeTable.init(s, root, orders.where(col("o_orderkey") % 2 === 0), "o_orderstatus")
      LakeTable.append(s, root, orders.where(col("o_orderkey") % 2 === 1))
      val byPart = LakeTable.countByPartition(s, root)
      val total = LakeTable.countRows(s, root)
      s.createDataFrame(byPart.getOrElse(Map.empty).toSeq)
        .toDF("o_orderstatus", "n_meta")
        .withColumn("total_meta", lit(total.getOrElse(-1L)))
        .withColumn("from_metadata", lit(byPart.isDefined && total.isDefined))
        .orderBy("o_orderstatus")
    },

    // RESTORE (the bad-deploy undo): a corrupting merge (v2) is rolled
    // back by restoring v1 as a NEW commit (v3) — nothing deleted, the
    // mistake still time-travels, history stays linear. The result pins
    // all three contracts at once: the restored rollup must equal the
    // UNTOUCHED orders rollup (a restore that leaked any v2 row shifts
    // cnt/cents), v2_cents re-derives the corrupted version's total
    // (time travel THROUGH the restore still reads the mistake), and
    // head_version pins that the rollback was a forward commit, not a
    // manifest deletion.
    "q148_lake_restore" -> { (s, dir) =>
      import graft.operators.LakeTable
      val root = s"/root/repo/target/staging/q148_${dir.replaceAll("[^A-Za-z0-9]", "_")}"
      val p = new org.apache.hadoop.fs.Path(root)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      LakeTable.init(s, root, orders, "o_orderstatus")
      val corruption = orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_orderstatus", lit("F"))
      LakeTable.merge(s, root, corruption, Seq("o_orderkey"), "o_orderstatus")
      val headV = LakeTable.restore(s, root, 1L)
      val v2Cents = LakeTable.readVersion(s, root, 2L)
        .agg(sum(round(col("o_totalprice") * 100).cast("long"))).head.getLong(0)
      LakeTable.read(s, root)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .withColumn("v2_cents", lit(v2Cents))
        .withColumn("head_version", lit(headV))
        .orderBy("o_orderstatus")
    },

    // The graft-lake streaming CHANGE FEED end-to-end (readChangeFeed —
    // the Delta-CDF face): q137's exact table history (init, the
    // partition-moving merge, the COW delete) consumed through a REAL
    // readStream whose micro-batches are classified per-commit change
    // slices, materialized by a real writeStream under
    // Trigger.AvailableNow, then rolled up by (version, class). The
    // oracle is q137's relational re-derivation verbatim — the stream
    // must deliver exactly what the batch changelog walk computes: a
    // replayed version doubles a cell, a dropped class empties one, a
    // leaked carried-neighbor row shifts cnt/cents.
    "q147_lake_stream_cdf" -> { (s, dir) =>
      import graft.operators.LakeTable
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q147_$tag"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      val root = s"$stage/lake"
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice")
      LakeTable.init(s, root, orders, "o_orderstatus")
      val updates = orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .withColumn("o_orderstatus", lit("F"))
      val inserts = orders.where(col("o_orderkey") % 10 === 3)
        .select(
          (col("o_orderkey") + 1000000000L).as("o_orderkey"),
          col("o_custkey"),
          lit("N").as("o_orderstatus"),
          col("o_totalprice"))
      LakeTable.merge(s, root, updates.unionByName(inserts), Seq("o_orderkey"), "o_orderstatus")
      LakeTable.delete(s, root,
        col("o_orderstatus") === "N" && col("o_orderkey") % 2 === 1, "o_orderstatus")
      val outDir = s"$stage/out"
      val q = s.readStream.format("graft-lake")
        .option("readChangeFeed", "true")
        .option("keyCols", "o_orderkey")
        .option("startingVersion", "1")
        .load(root)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy("_commit_version", "_change_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("_commit_version", "_change_type")
    },

    // The SQL-catalog DML face end-to-end, every statement pure
    // `spark.sql` against the `graft` TableCatalog: CREATE TABLE (DSv2
    // DDL, stats opt-in via TBLPROPERTIES), transactional INSERT INTO,
    // the q130 partition-moving MERGE INTO (planned by LakeDmlStrategy
    // onto LakeTable.merge — stats-pruned probe, file-level COW, atomic
    // commit), an UPDATE with an arithmetic assignment and a modulo
    // predicate, and a DELETE whose predicate is NOT Filter-translatable
    // (exercising the strategy path, not SupportsDelete). The oracle
    // re-derives the final table relationally — a verb applied twice,
    // not at all, or against the wrong snapshot shifts cnt/cents.
    "q149_sql_catalog_dml" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"/root/repo/target/staging/q149_$tag/t"
      val p = new org.apache.hadoop.fs.Path(s"/root/repo/target/staging/q149_$tag")
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q149_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q149_orders")
      s.sql(s"""MERGE INTO $lt t USING (
        SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
               CAST(o_totalprice + 100.0 AS DOUBLE) AS o_totalprice
        FROM q149_orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, 'N', CAST(o_totalprice AS DOUBLE)
        FROM q149_orders WHERE o_orderkey % 10 = 3
      ) s ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"UPDATE $lt SET o_totalprice = o_totalprice + 7.0 WHERE o_custkey % 100 = 1")
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 10 = 6")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Column DEFAULT values end-to-end: a CREATE-time default fills
    // INSERTs that omit the column; ALTER TABLE ADD COLUMNS ... DEFAULT
    // gives files written BEFORE the column existed the frozen
    // exists-default on read (NOT NULL — the Delta add-column-default
    // semantics), while post-add inserts write explicit values. The
    // oracle models all three generations relationally — an
    // exists-default read as NULL zeroes bonus for two thirds of the
    // rows, a current-default miss nulls cnt cells.
    "q159_column_defaults" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"/root/repo/target/staging/q159_$tag/t"
      val p = new org.apache.hadoop.fs.Path(s"/root/repo/target/staging/q159_$tag")
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q159_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE DEFAULT 0.0) PARTITIONED BY (o_orderstatus)")
      s.sql(s"INSERT INTO $lt (o_orderkey, o_orderstatus) " +
        "SELECT o_orderkey, o_orderstatus FROM q159_orders WHERE o_orderkey % 3 = 0")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q159_orders WHERE o_orderkey % 3 = 1")
      s.sql(s"ALTER TABLE $lt ADD COLUMNS (o_bonus BIGINT DEFAULT 5)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE), o_orderkey % 10 " +
        "FROM q159_orders WHERE o_orderkey % 3 = 2")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "CAST(sum(o_bonus) AS BIGINT) AS bonus " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Deletion vectors end-to-end (deleteMode=mor): two overlapping SQL
    // DELETEs record per-file position bitmaps instead of rewriting
    // data — the engine asserts inline that the file set is BYTE-FOR-
    // BYTE untouched and that vectors exist, then that CALL optimize
    // materializes them away; the rollup + metadata-derived live count
    // must equal the oracle's relational model of both deletes at every
    // stage (a scan that leaks a dead row, a count that misses a
    // vector, or a materialization that loses a live row all shift it).
    "q160_deletion_vectors" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q160_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q160_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey', deleteMode 'mor')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q160_orders")
      import graft.operators.LakeTable
      val before = LakeTable.snapshot(s, root).entries.map(_.rel).toSet
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 7 = 3")
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 10 < 2") // overlaps -> vector union
      val snap = LakeTable.snapshot(s, root)
      require(snap.entries.map(_.rel).toSet == before,
        "q160: a MOR delete must not touch any data file")
      require(snap.entries.exists(_.dv.isDefined), "q160: no deletion vector recorded")
      // metadata-only live count (manifest rows minus vector cardinality)
      val metaCount = LakeTable.countRows(s, root)
        .getOrElse(sys.error("q160: manifest lost its row counts"))
      s.sql(s"CALL graft.system.optimize(table => '$root')")
      val after = LakeTable.snapshot(s, root)
      require(after.entries.forall(_.dv.isEmpty),
        "q160: OPTIMIZE must materialize deletion vectors")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        s"CAST($metaCount AS BIGINT) AS meta_live, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Partition spec evolution (the Iceberg per-spec model): the table
    // starts identity-partitioned on o_orderstatus, CALL set_partitioning
    // flips FUTURE writes to months(o_orderdate) in a metadata-only
    // commit, and a second generation lands under the new grain. The
    // engine asserts inline that the spec change touched no file, that
    // the two generations carry distinct spec ids (new parts are month
    // strings), and that a status-equality predicate still PRUNES the
    // old-spec files under their own spec. A DELETE then spans both
    // generations (per-spec file classification), OPTIMIZE(min_files=1)
    // migrates everything to the current spec, and the final rollup
    // hash-checks both generations + the cross-spec delete against
    // DuckDB — a file classified under the wrong spec either leaks
    // deleted rows or loses live ones, shifting cents.
    "q178_partition_evolution" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q178_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q178_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_orderdate TIMESTAMP, o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, o_orderdate, " +
        "CAST(o_totalprice AS DOUBLE) FROM q178_orders")
      import graft.operators.LakeTable
      val relsBefore = LakeTable.snapshot(s, root).entries.map(_.rel).toSet
      s.sql(s"CALL graft.system.set_partitioning(table => '$root', " +
        "spec => 'months(o_orderdate)')")
      require(LakeTable.snapshot(s, root).entries.map(_.rel).toSet == relsBefore,
        "q178: the spec change must be metadata-only")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey + 1000000000, o_orderstatus, " +
        "o_orderdate, CAST(o_totalprice AS DOUBLE) * 2 FROM q178_orders")
      val snap = LakeTable.snapshot(s, root)
      require(snap.entries.map(_.spec).toSet == Set(0, 1),
        "q178: the two generations must carry their own spec ids")
      require(snap.entries.filter(_.spec == 1).forall(e =>
        e.part == LakeTable.NullPartition || e.part.matches("\\d{4}-\\d{2}")),
        "q178: new-generation partition values must be month strings")
      // old-spec files still prune under the OLD spec: a status equality
      // keeps only that status's old files (plus every new-spec file)
      val idx = graft.sources.lake.LakeFileIndex(s, root, None)
      val st = org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "o_orderstatus", org.apache.spark.sql.types.StringType)()
      idx.listFiles(Nil, Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(
        st, org.apache.spark.sql.catalyst.expressions.Literal.create(
          "F", org.apache.spark.sql.types.StringType))))
      val newFiles = snap.entries.count(_.spec == 1)
      require(idx.lastListedFiles < snap.entries.size &&
        idx.lastListedFiles >= newFiles,
        s"q178: old-spec pruning must survive evolution " +
          s"(${idx.lastListedFiles} of ${snap.entries.size}, $newFiles new)")
      // cross-spec DML: the delete classifies every file under its own spec
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 5 = 0")
      s.sql(s"CALL graft.system.optimize(table => '$root', min_files => 1)")
      val after = LakeTable.snapshot(s, root)
      require(after.entries.forall(_.spec == after.meta.get.currentSpec),
        "q178: OPTIMIZE(min_files=1) must migrate every file to the current spec")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Metadata operations across partition-spec evolution: two tables
    // identity-partitioned on status evolve to bucket(8, key) as a
    // metadata-only commit. BEFORE any new write the live files all
    // still carry the identity spec, so (1) GROUP BY status answers
    // from the manifest PER SPEC (pinned LocalTableScan, zero files
    // read — no OPTIMIZE needed first) and (2) the two tables
    // storage-partition-join on status with ZERO exchanges (the keyed
    // space is the single LIVE spec, not the current one). OPTIMIZE
    // then migrates every file to bucket(8) and (3) the same tables
    // SPJ on the bucket key — the post-migration payoff. The final
    // per-status rollup of the key-joined pair hash-checks content
    // preservation through evolution + migration against DuckDB.
    "q186_evolved_metadata_spj" -> { (s, dir) =>
      import graft.operators.LakeTable
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q186_$tag"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q186_orders")
      val (la, lb) = (s"graft.`$stage/a`", s"graft.`$stage/b`")
      for (lt <- Seq(la, lb))
        s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
          "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $la SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q186_orders")
      s.sql(s"INSERT INTO $lb SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) * 2 FROM q186_orders")
      LakeTable.setPartitioning(s, s"$stage/a", "o_orderkey", "bucket:8")
      LakeTable.setPartitioning(s, s"$stage/b", "o_orderkey", "bucket:8")
      // (1) evolved-but-uncompacted metadata GROUP BY: per-spec fold
      val prof = s.sql(s"SELECT o_orderstatus, count(*) AS c, " +
        s"max(o_orderkey) AS mx FROM $la GROUP BY o_orderstatus")
      prof.collect()
      val profPlan = prof.queryExecution.executedPlan.toString
      require(profPlan.contains("LocalTableScan") && !profPlan.contains("BatchScan"),
        s"q186: evolved-but-uncompacted GROUP BY partition must stay metadata-only:\n$profPlan")
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val body = "SELECT a.o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round((b.o_totalprice - a.o_totalprice) * 100) AS BIGINT)) " +
        "AS BIGINT) AS cents " +
        s"FROM $la a JOIN $lb b " +
        "ON a.o_orderstatus = b.o_orderstatus AND a.o_orderkey = b.o_orderkey " +
        "GROUP BY a.o_orderstatus"
      try {
        // (2) pre-migration SPJ on the single LIVE (identity) spec
        val pin = s.sql(body)
        pin.collect()
        val plan = pin.queryExecution.executedPlan.toString
        require(!plan.contains("Exchange"),
          s"q186: the live-spec SPJ must plan zero shuffles, got\n$plan")
        require(plan.contains("SortMergeJoin"), s"q186: expected SMJ, got\n$plan")
        // (3) OPTIMIZE migrates to bucket(8); SPJ moves to the new key
        s.sql(s"CALL graft.system.optimize(table => '$stage/a', min_files => 1)")
        s.sql(s"CALL graft.system.optimize(table => '$stage/b', min_files => 1)")
        for (r <- Seq(s"$stage/a", s"$stage/b")) {
          val sn = LakeTable.snapshot(s, r)
          require(sn.entries.forall(_.spec == sn.meta.get.currentSpec),
            s"q186: OPTIMIZE(min_files=1) must migrate every file at $r")
        }
        val pin2 = s.sql("SELECT count(*) AS c, " +
          "CAST(sum(CAST(round(b.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS s " +
          s"FROM $la a JOIN $lb b ON a.o_orderkey = b.o_orderkey")
        pin2.collect()
        val plan2 = pin2.queryExecution.executedPlan.toString
        require(plan2.contains("SortMergeJoin"), s"q186: expected bucket SMJ, got\n$plan2")
        require(!plan2.replace("Exchange SinglePartition", "").contains("Exchange"),
          s"q186: post-migration bucket SPJ — only the global-agg gather may shuffle:\n$plan2")
        s.sql(s"$body ORDER BY a.o_orderstatus")
      } finally old.foreach {
        case (k, Some(v)) => s.conf.set(k, v)
        case (k, None) => s.conf.unset(k)
      }
    },

    // TYPE WIDENING (ALTER COLUMN TYPE, the Iceberg promotion model):
    // the table starts narrow (INT keys, FLOAT price), a first
    // generation lands, and three metadata-only ALTERs widen to
    // BIGINT/DOUBLE — the engine asserts inline that no file changed,
    // that the widened bloom column was REKEYED (its stale int-hash
    // sidecars would false-prune the long probe — the point lookup must
    // still find every row), and a second generation then lands with
    // values only the wide types can hold (keys beyond int range). A
    // DELETE spans both physical widths, and the final rollup
    // hash-checks against DuckDB re-deriving the same state — a file
    // lost to a stale bloom or a mis-rewritten float stat shifts cnt
    // and cents.
    "q182_type_widening" -> { (s, dir) =>
      import graft.operators.LakeTable
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q182_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q182_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey INT, o_orderstatus STRING, " +
        "o_custkey INT, o_totalprice FLOAT) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_totalprice', bloomCols 'o_custkey')")
      s.sql(s"INSERT INTO $lt SELECT CAST(o_orderkey AS INT), o_orderstatus, " +
        "CAST(o_custkey AS INT), CAST(o_totalprice AS FLOAT) " +
        "FROM q182_orders WHERE o_orderkey % 2 = 0")
      val relsBefore = LakeTable.snapshot(s, root).entries.map(_.rel).toSet
      s.sql(s"ALTER TABLE $lt ALTER COLUMN o_orderkey TYPE BIGINT")
      s.sql(s"ALTER TABLE $lt ALTER COLUMN o_custkey TYPE BIGINT")
      s.sql(s"ALTER TABLE $lt ALTER COLUMN o_totalprice TYPE DOUBLE")
      val snap = LakeTable.snapshot(s, root)
      require(snap.entries.map(_.rel).toSet == relsBefore,
        "q182: widening must be metadata-only")
      require(snap.meta.get.bloomKeys.contains("o_custkey"),
        "q182: the widened bloom column must be rekeyed")
      // the stale int-hash sidecars must not prune the LONG probe: the
      // point lookup finds exactly the relational row count
      val probe = s.sql("SELECT min(o_custkey) AS c, count(*) AS n FROM q182_orders " +
        "WHERE o_orderkey % 2 = 0 GROUP BY o_custkey ORDER BY n DESC, c LIMIT 1").head
      val (probeKey, probeRows) = (probe.getLong(0), probe.getLong(1))
      require(LakeTable.readPoint(s, root, "o_custkey", probeKey).count() == probeRows,
        s"q182: bloom point lookup after widening must find all $probeRows rows")
      // second generation: keys only BIGINT can hold, prices born DOUBLE
      s.sql(s"INSERT INTO $lt SELECT o_orderkey + 3000000000, o_orderstatus, " +
        "o_custkey, CAST(o_totalprice AS DOUBLE) * 2 FROM q182_orders " +
        "WHERE o_orderkey % 2 = 1")
      // one DML across both physical widths
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 10 = 3")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, sum(o_custkey) AS sum_cust, " +
        "max(o_orderkey) AS mx_key, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Scoped compaction (OPTIMIZE ... WHERE, the Delta/Iceberg
    // rewrite-filter shape): two append generations leave every status
    // partition multi-file; CALL optimize(where => "o_orderstatus='F'")
    // folds ONLY the F group — the engine asserts inline that F
    // compacted to one file, that every other group's entries carried
    // BIT-IDENTICALLY (rel-for-rel), and that the scope came from
    // manifest metadata alone. At 100 TB nobody compacts the whole
    // table; this is the hot-partition maintenance verb. The rollup
    // then hash-checks that scoped compaction is content-preserving.
    "q183_optimize_where" -> { (s, dir) =>
      import graft.operators.LakeTable
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q183_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q183_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q183_orders WHERE o_orderkey % 2 = 0")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q183_orders WHERE o_orderkey % 2 = 1")
      val before = LakeTable.snapshot(s, root)
      require(before.entries.groupBy(_.part).forall(_._2.size >= 2),
        "q183: fixture must leave every partition multi-file")
      val otherRels = before.entries.filterNot(_.part == "F").map(_.rel).toSet
      s.sql(s"CALL graft.system.optimize(table => '$root', " +
        "where => \"o_orderstatus = 'F'\")")
      val after = LakeTable.snapshot(s, root)
      require(after.entries.count(_.part == "F") == 1,
        "q183: the scoped group must fold to one file")
      require(after.entries.filterNot(_.part == "F").map(_.rel).toSet == otherRels,
        "q183: out-of-scope groups must carry bit-identically")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Nested column types (STRUCT/ARRAY/MAP) through the lake verb set:
    // the table stores a struct, an array and a map built from orders
    // columns; a MERGE rewrites a struct field, an UPDATE replaces the
    // array from the (post-merge) struct, and a DELETE filters on a map
    // lookup — three statements over nested payloads, each a
    // transactional commit. The final rollup extracts FLAT scalars
    // (s.cust, xs[0], m['cents']) so DuckDB re-derives the same numbers
    // relationally without constructing nested values at all — a nested
    // write/read/align defect anywhere in the chain shifts a sum.
    "q184_nested_types" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q184_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q184_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (k BIGINT, p STRING, " +
        "s STRUCT<cust: BIGINT, prio: STRING>, xs ARRAY<BIGINT>, " +
        "m MAP<STRING, BIGINT>) PARTITIONED BY (p) TBLPROPERTIES (statsCols 'k')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "named_struct('cust', CAST(o_custkey AS BIGINT), 'prio', o_orderpriority), " +
        "array(o_orderkey, CAST(o_custkey AS BIGINT)), " +
        "map('cents', CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) " +
        "FROM q184_orders")
      s.sql(s"MERGE INTO $lt t USING " +
        "(SELECT o_orderkey AS k FROM q184_orders WHERE o_orderkey % 11 = 0) src " +
        "ON t.k = src.k WHEN MATCHED THEN UPDATE SET " +
        "s = named_struct('cust', t.s.cust * 2, 'prio', t.s.prio)")
      s.sql(s"UPDATE $lt SET xs = array(s.cust) WHERE k % 13 = 0")
      s.sql(s"DELETE FROM $lt WHERE element_at(m, 'cents') % 7 = 3")
      s.sql(s"SELECT p, count(*) AS cnt, CAST(sum(s.cust) AS BIGINT) AS sum_cust, " +
        "CAST(sum(xs[0]) AS BIGINT) AS sum_x0, " +
        "CAST(sum(element_at(m, 'cents')) AS BIGINT) AS sum_cents " +
        s"FROM $lt GROUP BY p ORDER BY p")
    },

    // Hidden partitioning (Iceberg partition transforms): the table is
    // PARTITIONED BY (months(o_orderdate)) — no derived column exists,
    // queries filter o_orderdate itself, and the engine maps the
    // predicate's bounds into month space for manifest pruning. The
    // engine asserts inline that partition values are month strings,
    // that a half-range predicate PRUNES the plan's file listing, and
    // the month rollup then hash-checks that transform-space routing
    // lost no row (a row filed under the wrong month survives the scan
    // but shifts its month's cents; an over-pruned month vanishes).
    "q162_hidden_partitioning" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q162_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q162_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderdate TIMESTAMP, " +
        "o_totalprice DOUBLE) PARTITIONED BY (months(o_orderdate)) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderdate, " +
        "CAST(o_totalprice AS DOUBLE) FROM q162_orders")
      import graft.operators.LakeTable
      val snap = LakeTable.snapshot(s, root)
      require(snap.entries.forall(e =>
        e.part == LakeTable.NullPartition || e.part.matches("\\d{4}-\\d{2}")),
        "q162: partition values must be month strings")
      // the pruning pin: a source-column range reaches the file listing
      // as a transform-space cut
      val idx = graft.sources.lake.LakeFileIndex(s, root, None)
      val ts = org.apache.spark.sql.catalyst.expressions.AttributeReference(
        "o_orderdate", org.apache.spark.sql.types.TimestampType)()
      val cut = java.time.Instant.parse("1997-01-01T00:00:00Z")
      idx.listFiles(Nil, Seq(org.apache.spark.sql.catalyst.expressions.GreaterThanOrEqual(
        ts, org.apache.spark.sql.catalyst.expressions.Literal(
          cut.getEpochSecond * 1000000L, org.apache.spark.sql.types.TimestampType))))
      require(idx.lastListedFiles > 0 && idx.lastListedFiles < snap.entries.size,
        s"q162: months >= 1997 must prune the listing " +
          s"(${idx.lastListedFiles} of ${snap.entries.size})")
      s.sql("SELECT date_format(o_orderdate, 'yyyy-MM') AS ym, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt WHERE o_orderdate >= timestamp'1997-01-01 00:00:00' " +
        "GROUP BY 1 ORDER BY 1")
    },

    // Snapshot tags: CALL graft.system.tag pins the pre-delete snapshot
    // under a name; a later COW delete rewrites every file and a
    // ZERO-retention vacuum reclaims all unpinned history — then
    // VERSION AS OF 'baseline' must still read the tagged snapshot
    // bit-for-bit (if vacuum ever reclaims a pinned file, the baseline
    // arm of the union errors or loses rows and the hash shifts). The
    // output unions the baseline and head rollups, labeled.
    "q163_snapshot_tags" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q163_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q163_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q163_orders")
      s.sql(s"CALL graft.system.tag(table => '$root', name => 'baseline')")
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 4 != 1") // rewrites every file
      s.sql(s"CALL graft.system.vacuum(table => '$root', retain_hours => 0.0D, " +
        "keep_versions => 1)")
      s.sql(s"SELECT 'baseline' AS src, o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt VERSION AS OF 'baseline' GROUP BY 1, 2 " +
        "UNION ALL " +
        "SELECT 'head' AS src, o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY 1, 2 " +
        "ORDER BY src, o_orderstatus")
    },

    // Metadata-only aggregate pushdown: a global COUNT(*)/MIN/MAX over
    // the lake table is answered from the MANIFEST alone (complete DSv2
    // aggregate pushdown into a driver-local row — zero files read at
    // any table size). The engine pins that the pushed arm's executed
    // plan is a LocalTableScan with NO file scan, and that a filtered
    // aggregate REFUSES pushdown (a real scan runs — metadata cannot
    // honor the predicate); both arms then hash-check against the
    // relational model, so a stale or mis-reduced manifest stat shifts
    // a value.
    "q164_agg_pushdown" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q164_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q164_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE, o_orderdate TIMESTAMP) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,o_totalprice,o_orderdate')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE), o_orderdate FROM q164_orders")
      val aggs = "count(*) AS cnt, min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key, " +
        "min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price, " +
        "min(o_orderdate) AS mn_date, max(o_orderdate) AS mx_date"
      val pushed = s.sql(s"SELECT $aggs FROM $lt")
      pushed.collect()
      val pushedPlan = pushed.queryExecution.executedPlan.toString
      require(pushedPlan.contains("LocalTableScan"),
        s"q164: the global aggregate must be metadata-only, got\n$pushedPlan")
      require(!pushedPlan.contains("BatchScan"),
        s"q164: the global aggregate must not scan files, got\n$pushedPlan")
      val scanned =
        s.sql(s"SELECT $aggs FROM $lt WHERE o_orderdate >= timestamp'1997-01-01 00:00:00'")
      scanned.collect()
      require(scanned.queryExecution.executedPlan.toString.contains("BatchScan"),
        "q164: a filtered aggregate must refuse metadata pushdown and scan")
      pushed.select(org.apache.spark.sql.functions.lit("all").as("src"),
          org.apache.spark.sql.functions.col("*"))
        .unionAll(scanned.select(org.apache.spark.sql.functions.lit("filtered").as("src"),
          org.apache.spark.sql.functions.col("*")))
        .orderBy("src")
    },

    // Runtime file skipping (DSv2 runtime filtering — dynamic pruning
    // generalized to stats/Bloom file skipping): a broadcast join keyed
    // on a sort-clustered, Bloom-covered column feeds the dimension's
    // ACTUAL key values into the scan at execution time, which re-prunes
    // the manifest before reading. The engine pins that the runtime
    // filter fired and skipped files (kept < total); the rollup then
    // hash-checks that runtime pruning lost no row (an over-pruned file
    // drops a matched order and shifts its status's cents).
    "q165_runtime_file_skip" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q165_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q165_orders")
      t(s, dir, "customer").createOrReplaceTempView("q165_customer")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_custkey', bloomCols 'o_custkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q165_orders")
      // cluster on the join key: several files per partition, each a
      // tight o_custkey slice, so an IN-probe prunes by stats range.
      // File size scales with the input (~24 files at any SF) — a fixed
      // size would leave one file per partition at small SF and nothing
      // to skip
      val rowsPerFile = math.max(50L, s.table("q165_orders").count() / 24)
      s.sql(s"CALL graft.system.optimize(table => '$root', min_files => 1, " +
        s"max_records_per_file => $rowsPerFile, sort_cols => 'o_custkey')")
      graft.sources.lake.LakeScan.lastRuntimePrune.remove(root)
      val q = s.sql("SELECT o.o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt o JOIN q165_customer c ON o.o_custkey = c.c_custkey " +
        "WHERE c.c_name = 'Customer#000000019' " +
        "GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus")
      q.collect()
      val prune = Option(graft.sources.lake.LakeScan.lastRuntimePrune.get(root))
      require(prune.exists { case (kept, total) => total > 1 && kept < total },
        s"q165: the runtime filter must skip files, got $prune")
      q
    },

    // Partition profile from metadata: COUNT/MIN/MAX GROUPED BY the
    // partition column answered from the manifest alone — the "how big
    // is each partition" operational query plans as driver-local rows
    // (pinned LocalTableScan, no file scan). The rollup hash-checks the
    // per-partition counts and key extremes against the relational
    // model, so a stale row count or a mis-reduced group stat shifts a
    // value.
    "q167_partition_profile" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q167_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q167_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,o_totalprice')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q167_orders")
      // a second commit so groups span entries
      s.sql(s"INSERT INTO $lt VALUES (3000000000, 'F', 100.5)")
      val q = s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key, " +
        s"max(o_totalprice) AS mx_price FROM $lt " +
        "GROUP BY o_orderstatus ORDER BY o_orderstatus")
      q.collect()
      val plan = q.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan"),
        s"q167: the grouped aggregate must be metadata-only, got\n$plan")
      require(!plan.contains("BatchScan"),
        s"q167: the grouped aggregate must not scan files, got\n$plan")
      q
    },

    // Storage-partitioned join: two lake tables identity-partitioned on
    // the join key report KeyGroupedPartitioning and plan one task per
    // partition value — the fact-fact join AND the same-key aggregate
    // above it run with ZERO exchanges (the engine pins no Exchange in
    // the executed plan and that a SortMergeJoin ran). The per-status
    // delta rollup then hash-checks alignment: a misgrouped task joins
    // rows of different partitions and drops matches, shifting cents.
    "q166_storage_partitioned_join" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q166_$tag"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q166_orders")
      val (la, lb) = (s"graft.`$stage/a`", s"graft.`$stage/b`")
      for (lt <- Seq(la, lb))
        s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      s.sql(s"INSERT INTO $la SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q166_orders")
      s.sql(s"INSERT INTO $lb SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) * 2 FROM q166_orders")
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val body = "SELECT a.o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round((b.o_totalprice - a.o_totalprice) * 100) AS BIGINT)) " +
        "AS BIGINT) AS cents " +
        s"FROM $la a JOIN $lb b " +
        "ON a.o_orderstatus = b.o_orderstatus AND a.o_orderkey = b.o_orderkey " +
        "GROUP BY a.o_orderstatus"
      val q =
        try {
          // the pin runs WITHOUT the final ORDER BY (a global sort
          // legitimately range-shuffles its 3-row input; the claim is
          // about the join and the same-key aggregate)
          val pin = s.sql(body)
          pin.collect()
          val plan = pin.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"q166: the storage-partitioned join must plan zero shuffles, got\n$plan")
          require(plan.contains("SortMergeJoin"),
            s"q166: expected a sort-merge join over key-grouped scans, got\n$plan")
          s.sql(s"$body ORDER BY a.o_orderstatus")
        } finally old.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      q
    },

    // Metadata tables: `t.__partitions` exposes the manifest's
    // per-partition row accounting through plain SQL, planned as
    // driver-local rows (pinned LocalTableScan — zero data files opened
    // at any table size). After a merge-on-read DELETE the table's
    // rows/live_rows split is exactly total vs surviving — both
    // hash-checked against the relational model (a stale row count or
    // an unsubtracted deletion vector shifts a cell).
    "q169_partitions_meta" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q169_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q169_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (deleteMode 'mor')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q169_orders")
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 5 = 2") // DVs, files untouched
      val files = s.sql(s"SELECT * FROM $lt.`__files`")
      files.collect()
      val plan = files.queryExecution.executedPlan.toString
      require(plan.contains("LocalTableScan") && !plan.contains("BatchScan"),
        s"q169: metadata tables must plan driver-local, got\n$plan")
      require(s.sql(s"SELECT count(*) c FROM $lt.`__files` WHERE dv_cardinality > 0")
        .head.getLong(0) >= 1, "q169: the mor delete must have recorded vectors")
      s.sql("SELECT partition AS o_orderstatus, `rows` AS total_rows, " +
        s"live_rows FROM $lt.`__partitions` ORDER BY partition")
    },

    // DML subquery predicates: the decontamination-by-blocklist verb as
    // SQL — `DELETE FROM lake WHERE key IN (SELECT ... blocklist)` plus
    // a scalar-subquery UPDATE. Each uncorrelated subquery is executed
    // ONCE at statement start and spliced back as its materialized
    // result (subquery-result-sized staging, never table-sized), then
    // the ordinary stats-pruned COW rewrite runs — so the corpus never
    // joins driver-side and the blocklist never re-executes per scan.
    // Hash-checked against the pure relational complement in DuckDB.
    "q170_dml_subquery" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q170_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q170_orders")
      t(s, dir, "customer").createOrReplaceTempView("q170_customer")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_totalprice DOUBLE) PARTITIONED BY (bucket(8, o_custkey)) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,o_custkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_custkey, " +
        "CAST(o_totalprice AS DOUBLE) FROM q170_orders")
      val total = s.sql(s"SELECT count(*) c FROM $lt").head.getLong(0)
      // blocklist delete: BUILDING-segment customers leave the corpus
      s.sql(s"DELETE FROM $lt WHERE o_custkey IN " +
        "(SELECT c_custkey FROM q170_customer WHERE c_mktsegment = 'BUILDING')")
      val kept = s.sql(s"SELECT count(*) c FROM $lt").head.getLong(0)
      require(kept < total, s"q170: the blocklist delete must remove rows ($kept of $total)")
      // scalar subquery in an UPDATE assignment (same materialize path)
      s.sql(s"UPDATE $lt SET o_totalprice = o_totalprice + " +
        "(SELECT CAST(min(c_custkey) AS DOUBLE) FROM q170_customer " +
        "WHERE c_mktsegment = 'BUILDING')")
      s.sql(s"SELECT CAST(count(*) AS BIGINT) AS cnt, " +
        "min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt")
    },
    // Incrementally-maintained MATERIALIZED VIEWS: two aggregate views
    // over one lake table — a cnt/sum view refreshed by PURE DELTA (the
    // change feed folds to signed per-group deltas; the source is never
    // rescanned) and a min/max view refreshed by DIRTY-GROUP rescan
    // (only touched groups re-aggregate, pruned through the scan
    // layer). A delete + insert + update wave lands on the source, one
    // refresh each brings both views current, and the joined rollup
    // hash-checks against DuckDB recomputing the aggregates from the
    // final source state. Exact integer cents keep the incremental sum
    // bit-equal to the recomputed one (double addition would drift by
    // fold order). The applied-source-version watermark commits
    // ATOMICALLY with each refresh's data change.
    // Materialized-view AVG and exact COUNT(DISTINCT): avg folds on the
    // delta path from its stored sum + non-null-count support columns
    // (no source rescan), cntd routes the refresh through the
    // dirty-group path (distinct counts are not delta-able under
    // deletes — a removed row may or may not retire its value). The
    // delete wave removes EVERY order of some customers, so distinct
    // counts must drop; the fee update shifts averages. Both views
    // refresh once and the joined rollup hash-checks against DuckDB
    // re-aggregating the final state — a stale average, a distinct
    // count that missed the delete, or a double-applied delta all
    // shift cells.
    "q180_matview_avg_distinct" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q180_$tag"
      val root = s"$stage/t"
      val (mv1, mv2) = (s"$stage/mv_avg", s"$stage/mv_cd")
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q180_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_custkey BIGINT, o_cents BIGINT) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, o_custkey, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) FROM q180_orders")
      s.sql(s"CALL graft.system.create_matview('$mv1', '$root', " +
        "'o_orderstatus', 'cnt,avg:o_cents')")
      s.sql(s"CALL graft.system.create_matview('$mv2', '$root', " +
        "'o_orderstatus', 'cnt,cntd:o_custkey')")
      val cdBefore = s.sql(s"SELECT sum(cntd_o_custkey) FROM graft.`$mv2`").head.getLong(0)
      // the wave: drop every order of %10=3 customers, re-insert a
      // key-shifted slice (some of those customers come back), add fees
      s.sql(s"DELETE FROM $lt WHERE o_custkey % 10 = 3")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey + 5000000, o_orderstatus, o_custkey, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) * 2 " +
        "FROM q180_orders WHERE o_orderkey % 11 = 0")
      s.sql(s"UPDATE $lt SET o_cents = o_cents + 100 WHERE o_orderkey % 7 = 0")
      val head = graft.operators.LakeTable.snapshot(s, root).version
      val r1 = s.sql(s"CALL graft.system.refresh_matview('$mv1')").head.getLong(0)
      val r2 = s.sql(s"CALL graft.system.refresh_matview('$mv2')").head.getLong(0)
      require(r1 == head && r2 == head,
        s"q180: refresh must reach the source head ($r1/$r2 vs $head)")
      require(s.sql(s"SELECT sum(cntd_o_custkey) FROM graft.`$mv2`").head.getLong(0)
        < cdBefore, "q180: the customer-delete wave must lower distinct counts")
      s.sql(s"SELECT m1.o_orderstatus AS status, m1.cnt AS cnt, " +
        "CAST(floor(m1.avg_o_cents * 100) AS BIGINT) AS avg100, " +
        "m2.cntd_o_custkey AS cd " +
        s"FROM graft.`$mv1` m1 JOIN graft.`$mv2` m2 " +
        "ON m1.o_orderstatus = m2.o_orderstatus ORDER BY status")
    },

    // Materialized view over a JOIN (delta-join maintenance):
    // Δ(F ⋈ D) = ΔF ⋈ D1 ∪ F0 ⋈ ΔD — the fact side of the dim term
    // reads PRUNED to the dirty dim keys, never the fact table. The
    // waves hit both sides in one window: a fact delete + shifted
    // insert AND a dim segment MOVE (group membership changes for every
    // joining fact row). One refresh; the view rows hash-check against
    // DuckDB recomputing the join aggregate from the final state — a
    // missed cross term, a stale dim side, or a double-counted moved
    // row all shift cells.
    "q181_matview_join" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q181_$tag"
      val (fact, dim, mv) = (s"$stage/fact", s"$stage/dim", s"$stage/mv")
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q181_orders")
      t(s, dir, "customer").createOrReplaceTempView("q181_customer")
      val (lf, ld) = (s"graft.`$fact`", s"graft.`$dim`")
      s.sql(s"CREATE TABLE $lf (o_orderkey BIGINT, o_custkey BIGINT, o_cents BIGINT) " +
        "PARTITIONED BY (bucket(8, o_custkey)) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,o_custkey')")
      s.sql(s"INSERT INTO $lf SELECT o_orderkey, o_custkey, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) FROM q181_orders")
      s.sql(s"CREATE TABLE $ld (c_custkey BIGINT, c_seg STRING) " +
        "PARTITIONED BY (c_seg) TBLPROPERTIES (statsCols 'c_custkey')")
      s.sql(s"INSERT INTO $ld SELECT c_custkey, c_mktsegment FROM q181_customer")
      s.sql(s"CALL graft.system.create_matview_join('$mv', '$fact', '$dim', " +
        "'o_custkey', 'c_custkey', 'c_seg', 'cnt,sum:o_cents')")
      // both-side wave in one refresh window
      s.sql(s"DELETE FROM $lf WHERE o_orderkey % 5 = 2")
      s.sql(s"INSERT INTO $lf SELECT o_orderkey + 5000000, o_custkey, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) * 2 " +
        "FROM q181_orders WHERE o_orderkey % 11 = 0")
      s.sql(s"UPDATE $ld SET c_seg = 'MOVED' WHERE c_custkey % 7 = 1")
      val headF = graft.operators.LakeTable.snapshot(s, fact).version
      val r = s.sql(s"CALL graft.system.refresh_matview('$mv')").head.getLong(0)
      require(r == headF, s"q181: refresh must reach the fact head ($r vs $headF)")
      require(graft.operators.MatView.appliedVersions(
        graft.operators.LakeTable.snapshot(s, mv).meta.get.props)._2
        .contains(graft.operators.LakeTable.snapshot(s, dim).version),
        "q181: the dim watermark must advance with the same refresh")
      s.sql(s"SELECT c_seg, cnt, sum_o_cents AS cents FROM graft.`$mv` ORDER BY c_seg")
    },

    // Logical CREATE VIEW through the graft catalog (DSv2 ViewCatalog +
    // the engine's own DDL parser swap and read-time substitution —
    // vanilla Spark refuses view DDL on any non-session catalog): a
    // filtered/projected view over a lake table, a second view stacked
    // on it, CREATE OR REPLACE swapping a definition, and DML on the
    // BASE table flowing through both layers (frozen-SQL semantics).
    // The engine pins inline that a partition predicate through the
    // view still prunes the lake scan; the final rollup through the
    // stacked views hash-checks against DuckDB inlining the same SQL.
    "q190_logical_view" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q190_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q190_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_cents BIGINT) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) FROM q190_orders")
      s.sql(s"CREATE VIEW graft.`$stage/v_big` AS " +
        s"SELECT o_orderstatus, o_orderkey, o_cents FROM $lt WHERE o_cents >= 10000000")
      // a partition predicate THROUGH the view must still prune files
      val probe = s.sql(s"SELECT o_cents FROM graft.`$stage/v_big` " +
        "WHERE o_orderstatus = 'F'")
      probe.collect()
      val plan = probe.queryExecution.executedPlan.toString
      require(plan.contains("LakeFileIndex"),
        s"q190: the view read must hit the lake scan, got\n$plan")
      // view over view; then DML on the BASE flows through both layers
      s.sql(s"CREATE VIEW graft.`$stage/v_roll` AS " +
        s"SELECT o_orderstatus, count(*) AS cnt, sum(o_cents) AS cents " +
        s"FROM graft.`$stage/v_big` GROUP BY o_orderstatus")
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 5 = 2")
      // CREATE OR REPLACE swaps the roll-up to a stricter filter
      s.sql(s"CREATE OR REPLACE VIEW graft.`$stage/v_roll` AS " +
        s"SELECT o_orderstatus, count(*) AS cnt, " +
        s"CAST(sum(o_cents) AS BIGINT) AS cents " +
        s"FROM graft.`$stage/v_big` WHERE o_orderkey % 2 = 0 GROUP BY o_orderstatus")
      s.sql(s"SELECT o_orderstatus, CAST(cnt AS BIGINT) AS cnt, cents " +
        s"FROM graft.`$stage/v_roll` ORDER BY o_orderstatus")
    },

    // Materialized view over a FILTERED source with a DERIVED group key
    // (CREATE ... WHERE o_cents >= 10000 GROUP BY o_orderkey % 10): the
    // WHERE and the key expression apply to every SIGNED delta row, so
    // the refresh stays on the pure-delta path — an UPDATE that moves a
    // row ACROSS the filter boundary nets to exactly −1/+1 on its
    // group, and the source is never rescanned. The wave crosses the
    // boundary in BOTH directions plus a delete; the final view state
    // hash-checks against DuckDB's filtered-relation model.
    "q188_matview_filtered" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q188_$tag"
      val (root, mv) = (s"$stage/t", s"$stage/mv")
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q188_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_cents BIGINT) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) FROM q188_orders")
      s.sql(s"CALL graft.system.create_matview(view => '$mv', table => '$root', " +
        "keys => 'kdec', aggs => 'cnt,sum:o_cents', " +
        "where => 'o_cents >= 10000', key_exprs => 'kdec:=o_orderkey % 10')")
      // the wave: a delete, rows falling BELOW the filter, rows rising
      // ABOVE it — all folded by one delta refresh
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 5 = 2")
      s.sql(s"UPDATE $lt SET o_cents = 5 WHERE o_orderkey % 7 = 0")
      s.sql(s"UPDATE $lt SET o_cents = o_cents + 100000 WHERE o_orderkey % 7 = 1")
      val head = graft.operators.LakeTable.snapshot(s, root).version
      val r = s.sql(s"CALL graft.system.refresh_matview('$mv')").head.getLong(0)
      require(r == head, s"q188: refresh must reach the source head ($r vs $head)")
      s.sql(s"SELECT kdec, cnt, sum_o_cents AS cents FROM graft.`$mv` ORDER BY kdec")
    },

    // MIN/MAX over a JOIN view: the delta terms only IDENTIFY touched
    // groups; the refresh re-aggregates those groups from the join at
    // head with the fact read pruned to the dirty fact-side keys. The
    // wave deletes each group's top rows (the case no delta algebra can
    // fold), moves dim rows between groups, and appends doubled-price
    // facts — one refresh folds all three, hash-checked against DuckDB
    // recomputing the joined state relationally.
    "q189_matview_minmax_join" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q189_$tag"
      val (fact, dim, mv) = (s"$stage/fact", s"$stage/dim", s"$stage/mv")
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q189_orders")
      t(s, dir, "customer").createOrReplaceTempView("q189_customer")
      val (lf, ld) = (s"graft.`$fact`", s"graft.`$dim`")
      s.sql(s"CREATE TABLE $lf (o_orderkey BIGINT, o_custkey BIGINT, o_cents BIGINT) " +
        "PARTITIONED BY (bucket(8, o_custkey)) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,o_custkey')")
      s.sql(s"INSERT INTO $lf SELECT o_orderkey, o_custkey, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) FROM q189_orders")
      s.sql(s"CREATE TABLE $ld (c_custkey BIGINT, c_seg STRING) " +
        "PARTITIONED BY (c_seg) TBLPROPERTIES (statsCols 'c_custkey')")
      s.sql(s"INSERT INTO $ld SELECT c_custkey, c_mktsegment FROM q189_customer")
      s.sql(s"CALL graft.system.create_matview_join('$mv', '$fact', '$dim', " +
        "'o_custkey', 'c_custkey', 'c_seg', 'cnt,min:o_cents,max:o_cents')")
      // kill the top of every group, then move dim membership, then
      // append — the refresh window holds all three
      s.sql(s"DELETE FROM $lf WHERE o_orderkey % 5 = 2 OR o_cents >= 15000000")
      s.sql(s"INSERT INTO $lf SELECT o_orderkey + 5000000, o_custkey, o_cents * 2 " +
        s"FROM $lf WHERE o_orderkey % 11 = 0")
      s.sql(s"UPDATE $ld SET c_seg = 'MOVED' WHERE c_custkey % 7 = 1")
      val headF = graft.operators.LakeTable.snapshot(s, fact).version
      val r = s.sql(s"CALL graft.system.refresh_matview('$mv')").head.getLong(0)
      require(r == headF, s"q189: refresh must reach the fact head ($r vs $headF)")
      s.sql(s"SELECT c_seg, cnt, min_o_cents AS mn, max_o_cents AS mx " +
        s"FROM graft.`$mv` ORDER BY c_seg")
    },

    // SQL DDL for materialized views: the whole lifecycle — CREATE
    // MATERIALIZED VIEW (WHERE + a derived group key + cnt/sum/avg, the
    // pure-delta family), a DML wave crossing the filter boundary both
    // ways, REFRESH MATERIALIZED VIEW — driven by pure SQL through the
    // parser hook (Spark's grammar has no MATERIALIZED keyword; the
    // engine screens the statements before the delegate and lowers them
    // onto the incremental MatView machinery). A CREATE naming an
    // unsupported aggregate refuses crisply and materializes NOTHING
    // (pinned on the filesystem). Hash-checked against DuckDB
    // recomputing the filtered aggregate from the final state.
    "q191_matview_sql" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q191_$tag"
      val (root, mv) = (s"$stage/t", s"$stage/mv")
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q191_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_cents BIGINT) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) FROM q191_orders")
      s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
        "SELECT o_orderstatus, o_orderkey % 10 AS kdec, count(*) AS cnt, " +
        s"sum(o_cents), avg(o_cents) FROM $lt " +
        "WHERE o_cents >= 10000 GROUP BY o_orderstatus, o_orderkey % 10")
      // a refused CREATE materializes nothing
      val refused =
        try { s.sql("CREATE MATERIALIZED VIEW graft.`" + stage + "/bad` AS " +
          s"SELECT o_orderstatus, stddev(o_cents) FROM $lt GROUP BY o_orderstatus")
          false } catch { case e: IllegalArgumentException =>
            e.getMessage.contains("unsupported aggregate") }
      require(refused, "q191: stddev must refuse with the aggregate named")
      require(!f.exists(new org.apache.hadoop.fs.Path(s"$stage/bad")),
        "q191: a refused CREATE MATERIALIZED VIEW must materialize nothing")
      // the wave: a delete, rows leaving the filter, rows entering it,
      // then an appended doubled-price slice (keys shifted by 5M keep
      // kdec stable)
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 5 = 2")
      s.sql(s"UPDATE $lt SET o_cents = 5 WHERE o_orderkey % 7 = 0")
      s.sql(s"UPDATE $lt SET o_cents = o_cents + 100000 WHERE o_orderkey % 7 = 1")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey + 5000000, o_orderstatus, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) * 2 " +
        "FROM q191_orders WHERE o_orderkey % 11 = 0")
      val head = graft.operators.LakeTable.snapshot(s, root).version
      val r = s.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`").head.getLong(0)
      require(r == head, s"q191: refresh must reach the source head ($r vs $head)")
      s.sql("SELECT o_orderstatus AS status, kdec, cnt, sum_o_cents AS cents, " +
        "CAST(floor(avg_o_cents * 100) AS BIGINT) AS avg100 " +
        s"FROM graft.`$mv` ORDER BY status, kdec")
    },

    // DIM-side WHERE on a join materialized view, created through pure
    // SQL: the single WHERE splits by conjunct — `o_cents >= 2000` rides
    // the fact side, `c_bal >= 0` the dim side — and the dim filter
    // commutes with the signed dim diff, so dim rows crossing the
    // boundary in BOTH directions (deactivations retiring every joining
    // fact row, activations admitting them) fold in one delta refresh
    // with the fact read pruned to the dirty dim keys. Hash-checked
    // against DuckDB recomputing the filtered join from the final state.
    "q192_matview_dim_filtered" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q192_$tag"
      val (fact, dim, mv) = (s"$stage/fact", s"$stage/dim", s"$stage/mv")
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q192_orders")
      t(s, dir, "customer").createOrReplaceTempView("q192_customer")
      val (lf, ld) = (s"graft.`$fact`", s"graft.`$dim`")
      s.sql(s"CREATE TABLE $lf (o_orderkey BIGINT, o_custkey BIGINT, o_cents BIGINT) " +
        "PARTITIONED BY (bucket(8, o_custkey)) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,o_custkey')")
      s.sql(s"INSERT INTO $lf SELECT o_orderkey, o_custkey, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) FROM q192_orders")
      s.sql(s"CREATE TABLE $ld (c_custkey BIGINT, c_seg STRING, c_bal DOUBLE) " +
        "PARTITIONED BY (c_seg) TBLPROPERTIES (statsCols 'c_custkey')")
      s.sql(s"INSERT INTO $ld SELECT c_custkey, c_mktsegment, " +
        "CAST(c_acctbal AS DOUBLE) FROM q192_customer")
      s.sql(s"CREATE MATERIALIZED VIEW graft.`$mv` AS " +
        s"SELECT c_seg, count(*) AS cnt, sum(o_cents) FROM $lf JOIN $ld " +
        "ON o_custkey = c_custkey WHERE o_cents >= 2000 AND c_bal >= 0 " +
        "GROUP BY c_seg")
      // boundary crossings both ways + a fact delete, one refresh window
      s.sql(s"UPDATE $ld SET c_bal = -1.0 WHERE c_custkey % 9 = 0")
      s.sql(s"UPDATE $ld SET c_bal = 100.0 WHERE c_custkey % 9 = 1")
      s.sql(s"DELETE FROM $lf WHERE o_orderkey % 6 = 3")
      val headF = graft.operators.LakeTable.snapshot(s, fact).version
      val r = s.sql(s"REFRESH MATERIALIZED VIEW graft.`$mv`").head.getLong(0)
      require(r == headF, s"q192: refresh must reach the fact head ($r vs $headF)")
      require(graft.operators.MatView.appliedVersions(
        graft.operators.LakeTable.snapshot(s, mv).meta.get.props)._2
        .contains(graft.operators.LakeTable.snapshot(s, dim).version),
        "q192: the dim watermark must advance with the same refresh")
      s.sql(s"SELECT c_seg, cnt, sum_o_cents AS cents FROM graft.`$mv` ORDER BY c_seg")
    },

    "q174_matview_refresh" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q174_$tag"
      val root = s"$stage/t"
      val (mv1, mv2) = (s"$stage/mv_sum", s"$stage/mv_range")
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q174_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_cents BIGINT) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) FROM q174_orders")
      s.sql(s"CALL graft.system.create_matview('$mv1', '$root', " +
        "'o_orderstatus', 'cnt,sum:o_cents')")
      s.sql(s"CALL graft.system.create_matview('$mv2', '$root', " +
        "'o_orderstatus', 'min:o_orderkey,max:o_orderkey')")
      // the change wave: delete, key-shifted insert, fee update
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 5 = 2")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey + 5000000, o_orderstatus, " +
        "CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) * 2 " +
        "FROM q174_orders WHERE o_orderkey % 11 = 0")
      s.sql(s"UPDATE $lt SET o_cents = o_cents + 100 WHERE o_orderkey % 7 = 0")
      val head = graft.operators.LakeTable.snapshot(s, root).version
      val r1 = s.sql(s"CALL graft.system.refresh_matview('$mv1')").head.getLong(0)
      val r2 = s.sql(s"CALL graft.system.refresh_matview('$mv2')").head.getLong(0)
      require(r1 == head && r2 == head,
        s"q174: refresh must reach the source head ($r1/$r2 vs $head)")
      // exactly-once pin: the watermark rode the refresh commit itself
      require(graft.operators.MatView.appliedVersions(
        graft.operators.LakeTable.snapshot(s, mv1).meta.get.props)._1 == head,
        "q174: watermark must live in the view's manifest")
      s.sql(s"SELECT m1.o_orderstatus AS status, m1.cnt AS cnt, " +
        "m1.sum_o_cents AS cents, m2.min_o_orderkey AS mn_key, " +
        "m2.max_o_orderkey AS mx_key " +
        s"FROM graft.`$mv1` m1 JOIN graft.`$mv2` m2 " +
        "ON m1.o_orderstatus = m2.o_orderstatus ORDER BY status")
    },

    // GENERATED ALWAYS AS columns: the write path computes the column
    // when the insert omits it, refuses provided values that break the
    // g <=> expr invariant, and UPDATE recomputes it when a referenced
    // column changes — so a predicate on the generated column is always
    // consistent with its sources (and prunes through its write-time
    // stats like any stored column). The wave: insert omitting the
    // column, a delete keyed on the generated band, a price update that
    // silently moves rows between bands. Hash-checked against DuckDB
    // computing the expression relationally at read time.
    "q175_generated_columns" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q175_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q175_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_totalprice DOUBLE, " +
        "price_band BIGINT GENERATED ALWAYS AS " +
        "(CAST(floor(o_totalprice / 50000.0) AS BIGINT))) " +
        "PARTITIONED BY (bucket(8, o_orderkey)) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,price_band')")
      // insert OMITS the generated column — the engine computes it
      s.sql(s"INSERT INTO $lt (o_orderkey, o_totalprice) " +
        "SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) FROM q175_orders")
      require(s.sql(s"SELECT count(*) c FROM $lt " +
        "WHERE price_band <> CAST(floor(o_totalprice / 50000.0) AS BIGINT)")
        .head.getLong(0) == 0, "q175: generated values must hold after insert")
      // delete keyed on the GENERATED band
      s.sql(s"DELETE FROM $lt WHERE price_band = 0")
      // price update moves rows between bands — recompute must track it
      s.sql(s"UPDATE $lt SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 3 = 0")
      require(s.sql(s"SELECT count(*) c FROM $lt " +
        "WHERE price_band <> CAST(floor(o_totalprice / 50000.0) AS BIGINT)")
        .head.getLong(0) == 0, "q175: generated values must hold after update")
      s.sql(s"SELECT price_band, CAST(count(*) AS BIGINT) AS cnt, " +
        "min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY price_band ORDER BY price_band")
    },

    // IDENTITY columns: `GENERATED ALWAYS AS IDENTITY (START WITH s
    // INCREMENT BY i)` allocated by the WRITE PATH — NULL cells fill
    // from beyond a persisted high-water mark with sparse per-partition
    // offsets (no global sort, no driver loop); uniqueness, the
    // START/INCREMENT lattice, cross-batch monotonicity and never-reuse
    // across DELETE are pinned inline (the values themselves depend on
    // partitioning, so the hashed result carries only count(DISTINCT)
    // tied to count(*) plus key rollups).
    "q176_identity_columns" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q176_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q176_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "row_id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 2)) " +
        "PARTITIONED BY (o_orderstatus)")
      s.sql(s"INSERT INTO $lt (o_orderkey, o_orderstatus) " +
        "SELECT o_orderkey, o_orderstatus FROM q176_orders")
      val b1 = s.sql(s"SELECT min(row_id) mn, max(row_id) mx, count(*) c, " +
        s"count(DISTINCT row_id) d FROM $lt").head
      require(b1.getLong(2) == b1.getLong(3), "q176: ids must be unique")
      require(b1.getLong(0) >= 1000 && (b1.getLong(0) - 1000) % 2 == 0,
        "q176: ids must respect START WITH / INCREMENT BY")
      s.sql(s"INSERT INTO $lt (o_orderkey, o_orderstatus) " +
        "SELECT o_orderkey + 3000000, o_orderstatus FROM q176_orders " +
        "WHERE o_orderkey % 10 = 0")
      val b2min = s.sql(s"SELECT min(row_id) FROM $lt WHERE o_orderkey >= 3000000")
        .head.getLong(0)
      require(b2min > b1.getLong(1), "q176: batch 2 ids must start beyond batch 1")
      val maxBefore = s.sql(s"SELECT max(row_id) FROM $lt").head.getLong(0)
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 7 = 3")
      s.sql(s"INSERT INTO $lt (o_orderkey, o_orderstatus) VALUES (9999999, 'O')")
      require(s.sql(s"SELECT max(row_id) FROM $lt").head.getLong(0) > maxBefore,
        "q176: deleted identity values must never be reused")
      s.sql(s"SELECT o_orderstatus AS status, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(count(DISTINCT row_id) AS BIGINT) AS uids, " +
        "min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY status")
    },

    // MERGE WITH SCHEMA EVOLUTION on the general clause path: the
    // source-only `tag` column widens the table during ANALYSIS
    // (AUTOMATIC_SCHEMA_EVOLUTION capability → the catalog's
    // metadata-only ADD COLUMNS commit), then a conditional
    // DELETE + UPDATE clause merge lands the values — old files read
    // NULL through, and WITHOUT the opt-in the same statement must
    // refuse at analysis with nothing committed. The status rollup
    // hash-checks survivors, tag coverage and cents.
    "q171_merge_evolution_sql" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q171_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q171_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q171_orders")
      s.sql("CREATE OR REPLACE TEMP VIEW q171_src AS " +
        "SELECT o_orderkey, 'audited' AS tag FROM q171_orders WHERE o_orderkey % 7 = 0")
      val clauses = s"USING q171_src s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED AND s.o_orderkey % 14 = 0 THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET tag = s.tag"
      // refusal retained without the opt-in: unresolved column, no commit
      val v0 = graft.operators.LakeTable.snapshot(s, root).version
      val refused =
        try { s.sql(s"MERGE INTO $lt t $clauses"); false }
        catch { case _: Exception => true }
      require(refused, "q171: new-column assignment must refuse without WITH SCHEMA EVOLUTION")
      require(graft.operators.LakeTable.snapshot(s, root).version == v0,
        "q171: the refused merge must not commit")
      s.sql(s"MERGE WITH SCHEMA EVOLUTION INTO $lt t $clauses")
      s.sql(s"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(count(tag) AS BIGINT) AS tagged, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Writable branches (the Iceberg branch shape): CALL
    // graft.system.branch forks a metadata-only version line over the
    // shared data tree; INSERT + DELETE land on the
    // `__branch_<name>` face while MAIN is require-pinned untouched
    // (version AND rollup); fast_forward adopts the branch head as one
    // metadata commit. The final status rollup hash-checks the whole
    // loop against the relational model — a branch write leaking into
    // main early, a lost branch delete, or a partial fast-forward all
    // shift cnt/cents.
    "q172_branches" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q172_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q172_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q172_orders")
      val mainCnt = s.sql(s"SELECT count(*) c FROM $lt").head.getLong(0)
      val v0 = graft.operators.LakeTable.snapshot(s, root).version
      s.sql(s"CALL graft.system.branch('$root', 'exp')")
      val bt = s"graft.`$root`.`__branch_exp`"
      s.sql(s"INSERT INTO $bt SELECT o_orderkey + 1000000000, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) * 2 FROM q172_orders WHERE o_orderkey % 5 = 0")
      s.sql(s"DELETE FROM $bt WHERE o_orderkey % 7 = 0 AND o_orderkey < 1000000000")
      // isolation pin: branch writes must not move main's line or rows
      require(graft.operators.LakeTable.snapshot(s, root).version == v0,
        "q172: branch writes must not advance main's version")
      require(s.sql(s"SELECT count(*) c FROM $lt").head.getLong(0) == mainCnt,
        "q172: branch writes must not change main's rows")
      s.sql(s"CALL graft.system.fast_forward('$root', 'exp')")
      s.sql(s"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Branch MERGE-BACK (CALL merge_branch): main and a branch advance
    // CONCURRENTLY — main appends a new-keys batch while the branch
    // deletes from the shared originals and appends its own batch —
    // then one call folds the branch into main. Because the two sides
    // touched disjoint file sets, the merge lands as a METADATA-ONLY
    // rebase of the branch's entry delta onto main's head (the engine
    // asserts the rebase counter moved and no recompute ran); the
    // branch is re-seeded with the merged state so the loop iterates.
    // The final rollup hash-checks the three-way union — main's
    // appends, the branch's delete, the branch's appends — against
    // DuckDB; a lost side or a double-applied delta shifts cnt/cents.
    "q187_branch_merge" -> { (s, dir) =>
      import graft.operators.LakeTable
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q187_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q187_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q187_orders")
      s.sql(s"CALL graft.system.branch('$root', 'exp')")
      val bt = s"graft.`$root`.`__branch_exp`"
      // main advances (append-only) while the branch deletes from the
      // shared originals AND appends — disjoint file sets
      s.sql(s"INSERT INTO $lt SELECT o_orderkey + 3000000000, 'P', " +
        "CAST(o_totalprice AS DOUBLE) FROM q187_orders")
      s.sql(s"DELETE FROM $bt WHERE o_orderkey % 9 = 0")
      s.sql(s"INSERT INTO $bt SELECT o_orderkey + 1000000000, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) * 2 FROM q187_orders WHERE o_orderkey % 5 = 0")
      val rebases0 = LakeTable.mergeRebases.get()
      s.sql(s"CALL graft.system.merge_branch('$root', 'exp')")
      require(LakeTable.mergeRebases.get() == rebases0 + 1,
        "q187: a disjoint branch merge must land as a metadata-only rebase")
      // the loop iterates: the re-seeded branch merges again by fast-forward
      s.sql(s"DELETE FROM $bt WHERE o_orderkey % 9 = 1 AND o_orderkey < 1000000000")
      s.sql(s"CALL graft.system.merge_branch('$root', 'exp')")
      s.sql(s"SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // CORRELATED subqueries in SQL DML: each boolean leaf containing a
    // correlated subquery (EXISTS / NOT EXISTS / a comparison on a
    // correlated scalar) is evaluated ONCE against the pre-statement
    // snapshot — Catalyst decorrelates the staging filter into an
    // ordinary semi/anti join — and spliced back as a null-safe
    // membership test over the staged qualifying-tuple set, then the
    // ordinary stats-pruned COW rewrite runs. Three shapes in sequence:
    // an EXISTS blocklist delete, a per-customer correlated-scalar
    // threshold UPDATE, and a NOT EXISTS (anti) delete. Hash-checked
    // against DuckDB running the same correlated SQL relationally.
    // Correlated subqueries in ASSIGNMENT VALUES (the q173 lift's last
    // refusal): `UPDATE ... SET x = (SELECT ... corr)` and correlated
    // values in MERGE SET / INSERT stage ONE row per distinct qualifying
    // outer tuple (Catalyst decorrelates the staged Project into a left
    // join + aggregate over the pre-statement snapshot) and the rewrite
    // projection looks the scalar up null-safely — never a per-row
    // subquery execution. Three statements chain so the oracle's
    // relational re-derivation catches a value staged against the wrong
    // snapshot or a lookup that misses (NULL) or double-matches.
    "q179_correlated_set" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q179_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q179_orders")
      t(s, dir, "customer").createOrReplaceTempView("q179_customer")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,o_custkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q179_orders")
      // correlated scalar ASSIGNMENT in UPDATE: each hit row adds ITS
      // OWN customer's balance (per-row lookup, staged per tuple)
      s.sql(s"UPDATE $lt t SET o_totalprice = o_totalprice + " +
        "(SELECT CAST(c_acctbal AS DOUBLE) FROM q179_customer c " +
        "WHERE c.c_custkey = t.o_custkey) WHERE o_orderkey % 7 = 0")
      // correlated values in MERGE SET (both sides referenced) and in a
      // NOT MATCHED INSERT
      s.sql(s"""MERGE INTO $lt t USING (
        SELECT o_orderkey AS k, o_custkey AS ck, o_orderstatus AS st
        FROM q179_orders WHERE o_orderkey % 11 = 3
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus
        FROM q179_orders WHERE o_orderkey % 11 = 4) s
        ON t.o_orderkey = s.k
        WHEN MATCHED THEN UPDATE SET o_totalprice = t.o_totalprice * 2 +
          (SELECT max(CAST(c_acctbal AS DOUBLE)) FROM q179_customer c
           WHERE c.c_custkey = s.ck)
        WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, o_totalprice)
          VALUES (s.k, s.ck, s.st,
            (SELECT CAST(c_acctbal AS DOUBLE) FROM q179_customer c
             WHERE c.c_custkey = s.ck))""")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    "q173_dml_correlated" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q173_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q173_orders")
      t(s, dir, "customer").createOrReplaceTempView("q173_customer")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_totalprice DOUBLE) PARTITIONED BY (bucket(8, o_custkey)) " +
        "TBLPROPERTIES (statsCols 'o_orderkey,o_custkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_custkey, " +
        "CAST(o_totalprice AS DOUBLE) FROM q173_orders")
      val total = s.sql(s"SELECT count(*) c FROM $lt").head.getLong(0)
      // correlated EXISTS: BUILDING-segment customers' orders leave
      s.sql(s"DELETE FROM $lt t WHERE EXISTS (SELECT 1 FROM q173_customer c " +
        "WHERE c.c_custkey = t.o_custkey AND c.c_mktsegment = 'BUILDING')")
      val kept = s.sql(s"SELECT count(*) c FROM $lt").head.getLong(0)
      require(kept < total, s"q173: the correlated EXISTS delete must remove rows")
      // correlated scalar in a comparison: cheap orders (below their own
      // customer's account balance) get a fee
      s.sql(s"UPDATE $lt t SET o_totalprice = o_totalprice + 1.0 " +
        "WHERE o_totalprice < (SELECT max(CAST(c_acctbal AS DOUBLE)) " +
        "FROM q173_customer c WHERE c.c_custkey = t.o_custkey)")
      // correlated NOT EXISTS (anti): drop orders whose customer has no
      // non-negative balance row
      s.sql(s"DELETE FROM $lt t WHERE NOT EXISTS (SELECT 1 FROM q173_customer c " +
        "WHERE c.c_custkey = t.o_custkey AND CAST(c.c_acctbal AS DOUBLE) >= 0.0)")
      // correlated EXISTS in a MERGE CLAUSE CONDITION: machinery
      // customers' orders delete when the customer's balance beats the
      // price, take a fee otherwise — the same lift, staged over the
      // clause family's evaluation domain (the ON inner join)
      val preMerge = s.sql(s"SELECT count(*) c FROM $lt").head.getLong(0)
      s.sql(s"MERGE INTO $lt t USING (SELECT c_custkey FROM q173_customer " +
        "WHERE c_mktsegment = 'MACHINERY') s ON t.o_custkey = s.c_custkey " +
        "WHEN MATCHED AND EXISTS (SELECT 1 FROM q173_customer c " +
        "WHERE c.c_custkey = t.o_custkey AND CAST(c.c_acctbal AS DOUBLE) > t.o_totalprice) " +
        "THEN DELETE " +
        "WHEN MATCHED THEN UPDATE SET o_totalprice = o_totalprice + 5.0")
      require(s.sql(s"SELECT count(*) c FROM $lt").head.getLong(0) < preMerge,
        "q173: the correlated merge clause DELETE must fire")
      s.sql(s"SELECT CAST(count(*) AS BIGINT) AS cnt, " +
        "min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt")
    },


    // Bucket storage-partitioned join: both tables PARTITIONED BY
    // (bucket(16, o_custkey)) — the catalog's V2 bucket function
    // (FunctionCatalog) resolves the transform on both sides, so the
    // key-grouped join AND the same-key aggregate plan with ZERO
    // exchanges at ANY key cardinality (identity partitioning cannot
    // bucket 10^9 keys; this is the Iceberg bucketed-fact shape). The
    // per-customer delta rollup hash-checks bucket routing end-to-end:
    // a row hashed into different buckets on the two sides loses its
    // match and drops a customer's cents.
    "q168_bucket_spj" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q168_$tag"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q168_orders")
      val (la, lb) = (s"graft.`$stage/a`", s"graft.`$stage/b`")
      for (lt <- Seq(la, lb))
        s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
          "o_totalprice DOUBLE) PARTITIONED BY (bucket(16, o_custkey))")
      s.sql(s"INSERT INTO $la SELECT o_orderkey, o_custkey, " +
        "CAST(o_totalprice AS DOUBLE) FROM q168_orders")
      s.sql(s"INSERT INTO $lb SELECT o_orderkey, o_custkey, " +
        "CAST(o_totalprice AS DOUBLE) * 2 FROM q168_orders")
      val confs = Seq(
        "spark.sql.sources.v2.bucketing.enabled" -> "true",
        "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
        "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
        "spark.sql.autoBroadcastJoinThreshold" -> "-1")
      val old = confs.map { case (k, _) => k -> s.conf.getOption(k) }
      confs.foreach { case (k, v) => s.conf.set(k, v) }
      val body = "SELECT a.o_custkey, count(*) AS cnt, " +
        "CAST(sum(CAST(round((b.o_totalprice - a.o_totalprice) * 100) AS BIGINT)) " +
        "AS BIGINT) AS cents " +
        s"FROM $la a JOIN $lb b " +
        "ON a.o_custkey = b.o_custkey AND a.o_orderkey = b.o_orderkey " +
        "GROUP BY a.o_custkey"
      val q =
        try {
          val pin = s.sql(body)
          pin.collect()
          val plan = pin.queryExecution.executedPlan.toString
          require(!plan.contains("Exchange"),
            s"q168: the bucket SPJ must plan zero shuffles, got\n$plan")
          require(plan.contains("SortMergeJoin"),
            s"q168: expected a sort-merge join over key-grouped scans, got\n$plan")
          s.sql(s"$body ORDER BY a.o_custkey")
        } finally old.foreach {
          case (k, Some(v)) => s.conf.set(k, v)
          case (k, None) => s.conf.unset(k)
        }
      q
    },

    // Merge-on-read UPDATE (deleteMode=mor): the SQL UPDATE tombstones
    // matched positions and appends updated copies in ONE commit — the
    // engine asserts inline that every original file is still present
    // and that the live count is unchanged; the rollup then hash-checks
    // the update itself (a lost tombstone double-counts a row, a lost
    // append drops one, a mis-evaluated assignment shifts cents).
    "q161_mor_update" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q161_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q161_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey', deleteMode 'mor')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q161_orders")
      import graft.operators.LakeTable
      val before = LakeTable.snapshot(s, root).entries.map(_.rel).toSet
      s.sql(s"UPDATE $lt SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 11 = 5")
      val snap = LakeTable.snapshot(s, root)
      require(before.subsetOf(snap.entries.map(_.rel).toSet),
        "q161: a MOR update must keep every original file (tombstone + append)")
      require(snap.entries.exists(_.dv.isDefined), "q161: no tombstone vector recorded")
      require(LakeTable.countRows(s, root).contains(
        s.sql(s"SELECT count(*) FROM q161_orders").head.getLong(0)),
        "q161: live metadata count must be unchanged by an update")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // MOR MERGE (deleteMode=mor): one CDC-apply MERGE carrying DELETE,
    // UPDATE and INSERT ops tombstones matched rows into DV sidecars
    // and appends postimages + inserts in ONE commit — no data file is
    // rewritten. The engine asserts inline that every original file
    // survives byte-identical in the manifest (subset pin), that
    // tombstone vectors exist, and that the metadata-only live count
    // matches the relational model (orig − deletes + inserts; updates
    // are count-neutral: tombstone + postimage). CALL optimize then
    // materializes the vectors away and the final rollup hash-checks
    // the whole CDC application against DuckDB's relational re-derive —
    // a leaked tombstoned preimage, a lost postimage, or a doubled
    // insert all shift cents.
    "q177_mor_merge" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q177_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q177_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey', deleteMode 'mor')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q177_orders")
      import graft.operators.LakeTable
      val before = LakeTable.snapshot(s, root).entries.map(_.rel).toSet
      s.sql("CREATE OR REPLACE TEMP VIEW q177_src AS " +
        "SELECT o_orderkey AS k, 'D' AS op, CAST(0.0 AS DOUBLE) AS pr, o_orderstatus " +
        "FROM q177_orders WHERE o_orderkey % 13 = 0 " +
        "UNION ALL SELECT o_orderkey, 'U', CAST(0.0 AS DOUBLE), o_orderstatus " +
        "FROM q177_orders WHERE o_orderkey % 13 = 1 " +
        "UNION ALL SELECT o_orderkey + 1000000000, 'I', " +
        "CAST(o_totalprice AS DOUBLE) / 2, o_orderstatus " +
        "FROM q177_orders WHERE o_orderkey % 13 = 2")
      s.sql(s"MERGE INTO $lt t USING q177_src s ON t.o_orderkey = s.k " +
        "WHEN MATCHED AND s.op = 'D' THEN DELETE " +
        "WHEN MATCHED AND s.op = 'U' THEN UPDATE SET o_totalprice = t.o_totalprice * 3 " +
        "WHEN NOT MATCHED AND s.op = 'I' THEN INSERT (o_orderkey, o_orderstatus, " +
        "o_totalprice) VALUES (s.k, s.o_orderstatus, s.pr)")
      val snap = LakeTable.snapshot(s, root)
      require(before.subsetOf(snap.entries.map(_.rel).toSet),
        "q177: a MOR merge must keep every original file (tombstone + append)")
      require(snap.entries.exists(_.dv.isDefined),
        "q177: no tombstone vector recorded by the merge")
      val Seq(orig, nD, nI) = Seq(
        "SELECT count(*) FROM q177_orders",
        "SELECT count(*) FROM q177_orders WHERE o_orderkey % 13 = 0",
        "SELECT count(*) FROM q177_orders WHERE o_orderkey % 13 = 2")
        .map(q => s.sql(q).head.getLong(0))
      require(LakeTable.countRows(s, root).contains(orig - nD + nI),
        "q177: metadata live count must follow the CDC model (orig - D + I)")
      s.sql(s"CALL graft.system.optimize(table => '$root')")
      require(LakeTable.snapshot(s, root).entries.forall(_.dv.isEmpty),
        "q177: OPTIMIZE must materialize the merge's deletion vectors")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Full-sync CDC apply under deleteMode=mor: the nightly "make the
    // table equal this snapshot" MERGE whose NOT MATCHED BY SOURCE
    // clauses previously forced a COW rewrite of every file. The MOR
    // arm keeps the full-outer fate join (the semantics require it)
    // but WRITES only DV tombstones + one postimage/insert append —
    // the engine asserts inline that every original file survives the
    // single commit BYTE-IDENTICAL on disk (no rewrite, no drop) with
    // vectors recording the fired rows. The rollup hash-checks the
    // whole clause algebra — matched-changed update, matched-unchanged
    // carry, insert, conditional by-source delete vs zero-out —
    // against DuckDB's relational model of the desired state.
    "q185_mor_full_sync" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q185_$tag"
      val root = s"$stage/t"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q185_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey', deleteMode 'mor')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q185_orders")
      import graft.operators.LakeTable
      val s0 = LakeTable.snapshot(s, root)
      def sig(rel: String): (Long, Long) = {
        val st = f.getFileStatus(
          new org.apache.hadoop.fs.Path(s"${LakeTable.dataRoot(root)}/$rel"))
        (st.getLen, st.getModificationTime)
      }
      val before = s0.entries.map(e => e.rel -> sig(e.rel)).toMap
      // the desired state: keys %10==4 gone, %10==0 re-priced, a batch
      // of brand-new 'P' keys; everything else identical (a real full
      // sync is mostly unchanged rows — only churn may cost writes)
      s.sql("CREATE OR REPLACE TEMP VIEW q185_src AS " +
        "SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CASE WHEN o_orderkey % 10 = 0 THEN CAST(o_totalprice AS DOUBLE) + 25.0 " +
        "ELSE CAST(o_totalprice AS DOUBLE) END AS o_totalprice " +
        "FROM q185_orders WHERE o_orderkey % 10 <> 4 " +
        "UNION ALL SELECT o_orderkey + 2000000000, o_custkey, 'P', " +
        "CAST(o_totalprice AS DOUBLE) FROM q185_orders WHERE o_orderkey % 10 = 7")
      s.sql(s"MERGE INTO $lt t USING q185_src s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED AND t.o_totalprice <> s.o_totalprice THEN UPDATE SET " +
        "o_custkey = s.o_custkey, o_orderstatus = s.o_orderstatus, " +
        "o_totalprice = s.o_totalprice " +
        "WHEN NOT MATCHED THEN INSERT (o_orderkey, o_custkey, o_orderstatus, " +
        "o_totalprice) VALUES (s.o_orderkey, s.o_custkey, s.o_orderstatus, " +
        "s.o_totalprice) " +
        "WHEN NOT MATCHED BY SOURCE AND t.o_orderkey % 3 = 0 THEN DELETE " +
        "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET o_totalprice = CAST(0.0 AS DOUBLE)")
      val snap = LakeTable.snapshot(s, root)
      require(snap.version == s0.version + 1, "q185: one atomic commit")
      val afterRels = snap.entries.map(_.rel).toSet
      require(before.keySet.forall(afterRels.contains),
        "q185: a by-source MOR merge must rewrite or drop ZERO original files")
      require(before.keys.forall(r => sig(r) == before(r)),
        "q185: original files must stay byte-identical under MOR")
      require(snap.entries.exists(e => before.contains(e.rel) && e.dv.isDefined),
        "q185: fired rows must land as deletion vectors")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // CHECK constraints end-to-end: ADD CONSTRAINT through SQL (catalog
    // capability + validation scan), a VIOLATING insert refused with
    // nothing committed, valid inserts (including NULL prices — SQL
    // CHECK semantics pass NULL) landing normally. Enforcement is
    // hash-checked, not just exception-checked: if the violating batch
    // were admitted, its negated prices would shift cents; if the
    // refusal half-committed, cnt would drift.
    "q158_check_constraints" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"/root/repo/target/staging/q158_$tag/t"
      val p = new org.apache.hadoop.fs.Path(s"/root/repo/target/staging/q158_$tag")
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q158_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      s.sql(s"ALTER TABLE $lt ADD CONSTRAINT price_pos CHECK (o_totalprice >= 0)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q158_orders")
      val refused =
        try {
          s.sql(s"INSERT INTO $lt SELECT o_orderkey + 1000000000, o_orderstatus, " +
            "CAST(-o_totalprice AS DOUBLE) FROM q158_orders WHERE o_orderkey % 7 = 0")
          false
        } catch { case _: Exception => true }
      require(refused, "q158: the violating insert must be refused")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // The full streaming lake LOOP: a source table fed by three SQL
    // INSERT commits, tailed by `readStream.table` (manifest-version
    // offsets) and landed in a SECOND lake table by `writeStream
    // .toTable` — a real DSv2 StreamingWrite whose executors write
    // dot-temp task files renamed on task commit, and whose driver
    // commits one atomic manifest version per epoch with the engine's
    // epochId as a txn watermark (exactly-once). The TARGET's rollup
    // must equal the plain orders rollup — a replayed epoch doubles
    // cells, a surfaced speculative task file inflates them, a lost
    // task empties some.
    "q157_stream_to_table" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q157_$tag"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q157_orders")
      val src = s"graft.`$stage/src`"
      val tgt = s"graft.`$stage/tgt`"
      Seq(src, tgt).foreach(n => s.sql(s"CREATE TABLE $n (o_orderkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)"))
      (0 to 2).foreach(i =>
        s.sql(s"INSERT INTO $src SELECT o_orderkey, o_orderstatus, " +
          s"CAST(o_totalprice AS DOUBLE) FROM q157_orders WHERE o_orderkey % 3 = $i"))
      val q = s.readStream.table(src)
        .writeStream
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .toTable(tgt)
      q.awaitTermination()
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $tgt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // Lake maintenance through SQL stored procedures (Spark 4 DSv2
    // ProcedureCatalog, the Iceberg `CALL catalog.system.proc` shape):
    // three fragmenting INSERTs, then CALL optimize (transactional
    // compaction), CALL restore back to the two-slice version (rollback
    // as a forward commit), a RE-insert of the third slice, and CALL
    // vacuum at zero retention. The final rollup must equal the plain
    // orders rollup — an optimize that loses/duplicates rows, a restore
    // off by one version, or a vacuum that reclaims a LIVE file all
    // shift cnt/cents (the vacuum case via a failed scan).
    "q156_sql_procedures" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"/root/repo/target/staging/q156_$tag/t"
      val p = new org.apache.hadoop.fs.Path(s"/root/repo/target/staging/q156_$tag")
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q156_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      (0 to 2).foreach(i =>
        s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
          s"CAST(o_totalprice AS DOUBLE) FROM q156_orders WHERE o_orderkey % 3 = $i"))
      s.sql(s"CALL graft.system.optimize(table => '$root')") // v5: compaction
      s.sql(s"CALL graft.system.restore(table => '$root', version => 3)") // v6: slices 0-1
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q156_orders WHERE o_orderkey % 3 = 2")
      s.sql(s"CALL graft.system.vacuum(table => '$root', " +
        "retain_hours => 0.0D, keep_versions => 1)")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // The ALTER TABLE family end-to-end through pure SQL: ADD COLUMNS
    // (older files read NULL), RENAME COLUMN (field-id column mapping —
    // pre-rename files keep reading under the new name), and DROP
    // COLUMN (the dropped id is retired via the manifest high-water
    // mark) — each a metadata-only commit interleaved with real INSERTs
    // so every file generation is read under the FINAL schema. The
    // sharpest edge is baked into the oracle: o_note is written by
    // generation 2, dropped, then RE-ADDED under the same name — rows
    // from generations 1-2 must read NULL for it (a recycled field id
    // would leak the dropped o_custkey values back and shift notes /
    // note_sum), while generation 3 writes it fresh.
    "q155_schema_evolution" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"/root/repo/target/staging/q155_$tag/t"
      val p = new org.apache.hadoop.fs.Path(s"/root/repo/target/staging/q155_$tag")
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q155_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q155_orders WHERE o_orderkey % 3 = 0")
      s.sql(s"ALTER TABLE $lt ADD COLUMNS (o_note BIGINT)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE), o_custkey FROM q155_orders WHERE o_orderkey % 3 = 1")
      s.sql(s"ALTER TABLE $lt RENAME COLUMN o_totalprice TO o_price")
      s.sql(s"ALTER TABLE $lt DROP COLUMN o_note")
      s.sql(s"ALTER TABLE $lt ADD COLUMNS (o_note BIGINT)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE), o_custkey * 2 FROM q155_orders WHERE o_orderkey % 3 = 2")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_price * 100) AS BIGINT)) AS BIGINT) AS cents, " +
        "count(o_note) AS notes, CAST(sum(o_note) AS BIGINT) AS note_sum " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // SQL time travel through the catalog: `VERSION AS OF` resolves a
    // pinned snapshot (v2 = the initial insert) side by side with the
    // head after a COW delete — the old version must read back exactly
    // as committed (a carried file mutated in place, or version
    // resolution off by one, shifts the v2 row), and the head must show
    // the delete applied.
    "q150_sql_time_travel" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"/root/repo/target/staging/q150_$tag/t"
      val p = new org.apache.hadoop.fs.Path(s"/root/repo/target/staging/q150_$tag")
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q150_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q150_orders")
      s.sql(s"DELETE FROM $lt WHERE o_orderkey % 3 = 0")
      s.sql(
        s"""SELECT 'v2_preimage' AS snap, count(*) AS cnt,
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
           FROM $lt VERSION AS OF 2
           UNION ALL
           SELECT 'head_after_delete', count(*),
             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           FROM $lt
           ORDER BY snap""")
    },

    // The CATALOG streaming face end-to-end: a lake table created and
    // fed through pure SQL (three INSERT commits), then tailed by
    // `spark.readStream.table` — the DSv2 MicroBatchStream whose offsets
    // are manifest versions and whose per-batch partitions come from a
    // real ParquetScan over just the added files — drained by a real
    // writeStream under Trigger.AvailableNow. The oracle is the plain
    // batch rollup: a replayed version doubles a cell, a dropped commit
    // empties one.
    "q151_catalog_stream_table" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q151_$tag"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q151_orders")
      val lt = s"graft.`$stage/t`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus)")
      (0 to 2).foreach(i =>
        s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_orderstatus, " +
          s"CAST(o_totalprice AS DOUBLE) FROM q151_orders WHERE o_orderkey % 3 = $i"))
      val q = s.readStream.table(lt)
        .writeStream.format("parquet")
        .option("path", s"$stage/out")
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$stage/out")
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("o_orderstatus")
    },

    // The catalog CDF face end-to-end: a lake table built and mutated
    // through pure SQL (CREATE v1, INSERT v2, MERGE v3, DELETE v4), then
    // its per-commit change feed tailed through the DERIVED table
    // `graft.<t>.__changes` — `spark.readStream.table` on manifest-
    // version offsets, each (a, b] micro-batch one materialized
    // changesSince slice — drained by a real writeStream under
    // Trigger.AvailableNow. Same classification contract as q147's path
    // face (readChangeFeed on readStream.format("graft-lake")); a
    // replayed version doubles a cell, a missed change commit empties
    // one, a mis-keyed join misclassifies updates as insert+delete pairs.
    "q153_catalog_stream_changes" -> { (s, dir) =>
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q153_$tag"
      val p = new org.apache.hadoop.fs.Path(stage)
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q153_orders")
      val root = s"$stage/t"
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q153_orders")
      s.sql(s"""MERGE INTO $lt t USING (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice + 100.0 AS DOUBLE) AS o_totalprice
        FROM q153_orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey + 1000000000, o_custkey, 'N', CAST(o_totalprice AS DOUBLE)
        FROM q153_orders WHERE o_orderkey % 10 = 3
      ) s ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *""")
      s.sql(s"DELETE FROM $lt WHERE o_orderstatus = 'N' AND o_orderkey % 2 = 1")
      val q = s.readStream
        .option("keyCols", "o_orderkey")
        .option("startingVersion", "2")
        .table(s"$lt.__changes")
        .writeStream.format("parquet")
        .option("path", s"$stage/out")
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(s"$stage/out")
        .groupBy("_commit_version", "_change_type")
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .orderBy("_commit_version", "_change_type")
    },

    // CDC-apply in ONE MERGE: a change batch carrying upserts AND delete
    // tombstones lands on the lake table through the general clause
    // path (LakeTable.mergeClauses) — `WHEN MATCHED AND op='D' THEN
    // DELETE` wins over the update clause (first-match semantics),
    // unmatched tombstones are ignored, and the whole batch commits
    // atomically as one version. This is the shape a Debezium/stream
    // consumer applies every few minutes at 100 TB: the file probe is
    // stats/Bloom-pruned by the batch's keys, so only files that can
    // hold a changed key are rewritten.
    "q152_sql_merge_cdc" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val root = s"/root/repo/target/staging/q152_$tag/t"
      val p = new org.apache.hadoop.fs.Path(s"/root/repo/target/staging/q152_$tag")
      val f = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (f.exists(p)) f.delete(p, true)
      t(s, dir, "orders").createOrReplaceTempView("q152_orders")
      val lt = s"graft.`$root`"
      s.sql(s"CREATE TABLE $lt (o_orderkey BIGINT, o_custkey BIGINT, " +
        "o_orderstatus STRING, o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      s.sql(s"INSERT INTO $lt SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM q152_orders")
      s.sql(s"""MERGE INTO $lt t USING (
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice + 50.0 AS DOUBLE) AS o_totalprice, 'U' AS op
        FROM q152_orders WHERE o_orderkey % 10 = 0
        UNION ALL
        SELECT o_orderkey, o_custkey, o_orderstatus,
               CAST(o_totalprice AS DOUBLE), 'D'
        FROM q152_orders WHERE o_orderkey % 10 = 4
        UNION ALL
        SELECT o_orderkey + 2000000000, o_custkey, 'P',
               CAST(o_totalprice AS DOUBLE), 'U'
        FROM q152_orders WHERE o_orderkey % 10 = 7
      ) s ON t.o_orderkey = s.o_orderkey
      WHEN MATCHED AND s.op = 'D' THEN DELETE
      WHEN MATCHED THEN UPDATE SET o_orderkey = s.o_orderkey, o_custkey = s.o_custkey,
        o_orderstatus = s.o_orderstatus, o_totalprice = s.o_totalprice
      WHEN NOT MATCHED AND s.op <> 'D' THEN INSERT (o_orderkey, o_custkey,
        o_orderstatus, o_totalprice) VALUES (s.o_orderkey, s.o_custkey,
        s.o_orderstatus, s.o_totalprice)""")
      s.sql(s"SELECT o_orderstatus, count(*) AS cnt, " +
        "CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents " +
        s"FROM $lt GROUP BY o_orderstatus ORDER BY o_orderstatus")
    },

    // The graft-lake STREAMING source end-to-end: the events fixture
    // lands in a lake table across four append commits with a COW DELETE
    // (a change commit) in the middle, and a real readStream tails the
    // manifest version line under Trigger.AvailableNow into a parquet
    // sink. skipChangeCommits=true makes the delete INVISIBLE to the
    // stream — its rewrite adds no stream rows and removes none already
    // delivered — so the materialized sink must equal the raw fixture
    // exactly: the oracle is the plain batch rollup. A replayed version
    // (duplicate rows), a skipped append, or a leak of the delete's
    // rewrite shifts cnt/users/cents.
    "q144_lake_stream_tail" -> { (s, dir) =>
      import graft.operators.LakeTable
      import org.apache.spark.sql.streaming.Trigger
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val stage = s"/root/repo/target/staging/q144_$tag"
      val p = new org.apache.hadoop.fs.Path(stage)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      val root = s"$stage/lake"
      val events = Sources.table(s, dir, "events")
      def slice(i: Int) = events.where(pmod(col("user_id"), lit(4)) === i)
      slice(0).write.format("graft-lake").option("partitionCol", "event_type").save(root) // v1
      slice(1).write.format("graft-lake").mode("append").save(root)                       // v2
      LakeTable.delete(s, root, col("event_type") === "click", "event_type")              // v3: change commit
      slice(2).write.format("graft-lake").mode("append").save(root)                       // v4
      slice(3).write.format("graft-lake").mode("append").save(root)                       // v5
      val outDir = s"$stage/out"
      val q = s.readStream.format("graft-lake")
        .option("skipChangeCommits", "true").load(root)
        .writeStream.format("parquet")
        .option("path", outDir)
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      s.read.parquet(outDir)
        .groupBy(
          col("event_type"),
          date_format(timestamp_micros(expr("ts div 1000")), "yyyy-MM-dd HH").as("hr"))
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("user_id")).as("users"),
          sum(round(col("value") * 100).cast("long")).as("cents"))
        .orderBy("event_type", "hr")
    },

    // Avro connector round-trip (`graft-avro`, sources/avro — DSv2 on the
    // core avro library; closes the Avro half of the SURVEY §2b
    // "Kafka/Avro connectors" row, Kafka remains jar-blocked): orders
    // flows through write → container files → split/pruned DSv2 read, and
    // the rollup of what came BACK is checked against DuckDB over the
    // original parquet. A dropped split, doubled sync block, mis-decoded
    // union, or timestamp precision slip shifts cnt/cents/days.
    "q141_avro_roundtrip" -> { (s, dir) =>
      val tag = dir.replaceAll("[^A-Za-z0-9]", "_")
      val base = s"/root/repo/target/staging/q141_$tag"
      val p = new org.apache.hadoop.fs.Path(base)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (fs.exists(p)) fs.delete(p, true)
      t(s, dir, "orders")
        .write.format("graft-avro").mode("overwrite").save(base)
      s.read.format("graft-avro").load(base)
        .groupBy("o_orderstatus")
        .agg(
          count(lit(1)).as("cnt"),
          countDistinct(col("o_custkey")).as("custs"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          // NTZ-or-not tolerant: UTC session makes the cast an identity
          sum(expr("unix_micros(cast(o_orderdate as timestamp)) div 1000000")).as("secs"))
        .orderBy("o_orderstatus")
    },

    // SCD Type-2 dimension maintenance: one change batch carrying a REAL
    // attribute change (keys %10=0: price +100), an identical-attrs
    // re-delivery that must be absorbed without an empty history row
    // (%10=5), and brand-new keys (%10=3 re-keyed) — applied to a
    // current-only history. The output pins the full law: closed rows
    // keep the old price with valid_from 0 and lose currency, reopened
    // rows carry the new price stamped at the change ts, no-ops leave
    // nothing behind, inserts arrive current. sum(valid_from) rides
    // along so the stamps themselves are hash-checked, not just counts.
    "q132_scd2" -> { (s, dir) =>
      import graft.operators.Scd2
      val orders = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val history = orders
        .withColumn("valid_from", lit(0L))
        .withColumn("valid_to", lit(null).cast("long"))
      val changes = orders.where(col("o_orderkey") % 10 === 0)
        .withColumn("o_totalprice", col("o_totalprice") + lit(100.0))
        .unionByName(orders.where(col("o_orderkey") % 10 === 5)) // no-op redelivery
        .unionByName(orders.where(col("o_orderkey") % 10 === 3)
          .select((col("o_orderkey") + 1000000000L).as("o_orderkey"),
            col("o_orderstatus"), col("o_totalprice")))
        .withColumn("change_ts", lit(1000L))
      Scd2.applyChanges(history, changes,
          keyCols = Seq("o_orderkey"),
          attrCols = Seq("o_orderstatus", "o_totalprice"))
        .groupBy(col("valid_to").isNull.as("is_current"), col("o_orderstatus"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"),
          sum(col("valid_from")).as("sum_from"))
        .orderBy("is_current", "o_orderstatus")
    },


    // Persisted-sketch distinct rollup (SketchOps): per-day HLL sketches
    // of the customer set — the table an ingest job would store — merged
    // to per-month distinct estimates WITHOUT touching the raw rows
    // again. The approximate estimate itself can't hash-match a foreign
    // engine, so the query outputs the two CONTRACTS as booleans and the
    // oracle pins them to literal true: (a) merge-invariance — the
    // union of daily sketches estimates identically to one sketch built
    // directly over the month (register maxima are associative); (b) the
    // error envelope — estimate within 5% of the exact distinct count,
    // which the oracle recomputes exactly.
    "q112_sketch_rollup" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val daily = SketchOps.sketchBy(orders, col("o_orderdate"), col("o_custkey"))
      val merged = SketchOps.rollup(daily, trunc(col("bucket"), "month"))
      val direct = orders.groupBy(trunc(col("o_orderdate"), "month").as("grp"))
        .agg(
          hll_sketch_estimate(hll_sketch_agg(col("o_custkey"))).as("direct_distinct"),
          countDistinct(col("o_custkey")).as("exact_cnt"))
      merged.join(direct, "grp")
        .select(
          col("grp").as("month"),
          col("exact_cnt"),
          (col("approx_distinct") === col("direct_distinct")).as("merge_invariant"),
          (abs(col("approx_distinct") - col("exact_cnt")) <=
            col("exact_cnt") * 0.05).as("within_5pct"))
        .orderBy("month")
    },

    // Ordered funnel (view → click → purchase): the behavioral-analytics
    // staple. Each stage is one hash aggregate keyed on user_id plus a
    // join back to events — the ORDER constraint (click AFTER the first
    // view, purchase AFTER that click) is what separates this from three
    // independent counts, and the min-timestamp formulation keeps every
    // stage a plain groupBy (no per-user sort, no session arrays — at
    // 100 TB a per-user event array blows up on power users; min-per-
    // stage stays O(1) state per user). Timestamps compare as integer
    // micros on both engines.
    "q121_funnel" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_type"))
      val s1 = e.where(col("event_type") === "view")
        .groupBy("user_id").agg(min("tus").as("t1"))
      val s2 = e.join(s1, "user_id")
        .where(col("event_type") === "click" && col("tus") > col("t1"))
        .groupBy("user_id").agg(min("tus").as("t2"))
      val s3 = e.join(s2, "user_id")
        .where(col("event_type") === "purchase" && col("tus") > col("t2"))
        .groupBy("user_id").agg(min("tus").as("t3"))
      s1.agg(count(lit(1)).as("stage_view"))
        .crossJoin(s2.agg(count(lit(1)).as("stage_click")))
        .crossJoin(s3.agg(count(lit(1)).as("stage_purchase")))
    },

    // Retention cohorts: users grouped by first-seen day, distinct-active
    // counts at day offsets 0..7 — the DAU/retention curve. Two hash
    // aggregates (first-seen, then cohort cells) over the distinct
    // (user, day) activity set; output is cohort-grid-sized, never
    // event-sized.
    "q122_retention" -> { (s, dir) =>
      val act = t(s, dir, "events")
        .select(
          col("user_id"),
          to_date(timestamp_micros(expr("ts div 1000"))).as("d"))
        .distinct()
      val first = act.groupBy("user_id").agg(min("d").as("f"))
      act.join(first, "user_id")
        .withColumn("k", datediff(col("d"), col("f")))
        .where(col("k") <= 7)
        .groupBy("f", "k")
        .agg(countDistinct("user_id").as("users"))
        .orderBy("f", "k")
    },

    // Percentile-rank normalization via the mergeable histogram — the
    // feature-transform reuse of q116's sketch: bucket-grain CDF
    // (strictly-below cumulative counts) joined back to rows, decile =
    // (below*10) div n in pure integer arithmetic. The histogram is
    // bucket-count-sized (broadcastable at any corpus size) and the row
    // side needs only its bucket id — the transform never re-sorts the
    // data. Output pins the transform's CONTRACT: decile occupancy of
    // the normalized column (~10% per decile up to bucket granularity),
    // 10 rows regardless of input size.
    "q123_pct_rank" -> { (s, dir) =>
      import graft.operators.HistSketch
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val li = t(s, dir, "lineitem").select(HistSketch.bucketOf(cents, 5).as("hb"))
      val hist = li.groupBy("hb").agg(count(lit(1)).as("cnt"))
      val w = Window.orderBy("hb").rowsBetween(Window.unboundedPreceding, -1)
      val cdf = hist.select(
        col("hb"),
        coalesce(sum("cnt").over(w), lit(0L)).as("below"),
        sum("cnt").over(Window.partitionBy(lit(1))).as("n"))
      li.join(broadcast(cdf), "hb")
        .select(expr("(below * 10) div n").as("decile"))
        .groupBy("decile").agg(count(lit(1)).as("cnt"))
        .orderBy("decile")
    },

    // Event-type transition matrix (prev → next counts per user in
    // event-time order): the sequence-analytics staple. ONE shuffle on
    // user_id, lag within the partition sort (ties broken by event_id so
    // the matrix is deterministic), then a grid-sized hash aggregate.
    "q124_transitions" -> { (s, dir) =>
      val e = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"),
          col("event_id"), col("event_type"))
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      e.withColumn("prev", lag("event_type", 1).over(w))
        .where(col("prev").isNotNull)
        .groupBy(col("prev"), col("event_type").as("next"))
        .agg(count(lit(1)).as("cnt"))
        .orderBy("prev", "next")
    },

    // Sessionized conversion: per-day session counts and the share that
    // contained a purchase — the session-level companion of the q121
    // user-level funnel. Sessions come from `session_window` (30-minute
    // gap); the oracle re-derives them as gaps-and-islands (new session
    // when the gap is >= 30 min — the >= matches session_window's
    // exclusive end), which doubles as a hash-checked equivalence proof
    // between the two session formulations.
    "q129_session_conversion" -> { (s, dir) =>
      t(s, dir, "events")
        .select(
          col("user_id"),
          timestamp_micros(expr("ts div 1000")).as("tsc"),
          col("event_type"))
        .groupBy(session_window(col("tsc"), "30 minutes"), col("user_id"))
        .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
        .select(to_date(col("session_window.start")).as("d"), col("conv"))
        .groupBy("d")
        .agg(count(lit(1)).as("sessions"), sum("conv").as("converted"))
        .orderBy("d")
    },

    // Month-over-month growth: the reporting staple — monthly revenue in
    // exact cents (one hash aggregate), then lag/delta over the
    // month-count-sized result. The window runs over ~84 rows, never the
    // fact table; deltas are integer-exact.
    "q127_mom_growth" -> { (s, dir) =>
      val monthly = t(s, dir, "lineitem")
        .groupBy(trunc(col("l_shipdate"), "month").as("month"))
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev_cents"))
      monthly
        .withColumn("prev_cents",
          lag("rev_cents", 1).over(Window.orderBy("month")))
        .withColumn("delta_cents", col("rev_cents") - col("prev_cents"))
        .orderBy("month")
    },

    // Pareto / ABC analysis: what share of revenue the top-k% of parts
    // carry. Per-part revenue (one hash aggregate), rank desc by
    // (revenue, part) — the id tie-break makes the curve deterministic —
    // then cumulative share at each part-count decile. All membership
    // and cumulation in exact integers; the one division is the final
    // per-mille share, computed with integer arithmetic
    // (cum*1000 div total). The rank/cumsum is AggOps.globalRank —
    // chunk-parallel range-partition + prefix offsets — because the
    // ranked set is PART-COUNT-SIZED (grows with the data): a plain
    // Window.orderBy would funnel it through one task at scale.
    "q128_pareto" -> { (s, dir) =>
      val rev = t(s, dir, "lineitem")
        .groupBy("l_partkey")
        .agg(sum(round(col("l_extendedprice") * 100).cast("long")).as("rev"))
      val ranked = AggOps.globalRank(
          Seq(col("rev").desc, col("l_partkey").asc),
          "rn", Seq("rev" -> "cum"))(rev)
        .withColumn("rn", col("rn").cast("int")) // hash-parity with the int oracle
      val totals = ranked.agg(
        max("rn").as("n_parts"), max("cum").as("total_rev"))
      val d10 = s.range(1, 11).select(col("id").as("decile"))
      ranked.crossJoin(broadcast(totals))
        .join(broadcast(d10), col("rn") === expr("(decile * n_parts) div 10"))
        .select(
          col("decile"),
          col("rn").as("parts"),
          expr("(cum * 1000) div total_rev").as("share_permille"))
        .orderBy("decile")
    },

    // Rolling 7-day active users — the classically expensive sliding
    // distinct, answered EXACTLY from the persisted daily bitmap table:
    // each report day OR-merges its window's 7 daily bitmap rows
    // (idempotent, so a user active on 5 of the 7 days counts once).
    // The join is day-grid × sketch rows — calendar-sized, never
    // event-sized; the raw events are touched once at ingest. The naive
    // form re-shuffles 7 days of raw events per report day, every day.
    "q125_rolling_active" -> { (s, dir) =>
      val act = t(s, dir, "events")
        .select(to_date(timestamp_micros(expr("ts div 1000"))).as("d"), col("user_id"))
      val daily = SketchOps.bitmapSketchBy(act, col("d"), col("user_id"))
      val days = daily.select(col("bucket").as("rd")).distinct()
      SketchOps.bitmapRollup(
          daily.join(days,
            col("bucket") >= date_sub(col("rd"), 6) && col("bucket") <= col("rd")),
          col("rd"))
        .select(col("grp").as("rd"), col("exact_distinct").as("active_7d"))
        .orderBy("rd")
    },

    // Inter-event gap percentiles: per-user event-time deltas (lag) fed
    // into the mergeable histogram — p50/p95/p99 of the gap distribution
    // in micros, deterministic end to end. The lag is one shuffle on
    // user_id; the histogram rollup is sketch-row-sized.
    "q126_gap_quantiles" -> { (s, dir) =>
      import graft.operators.HistSketch
      val w = Window.partitionBy("user_id").orderBy("tus", "event_id")
      val gaps = t(s, dir, "events")
        .select(col("user_id"), expr("ts div 1000").as("tus"), col("event_id"))
        .withColumn("gap", col("tus") - lag("tus", 1).over(w))
        .where(col("gap").isNotNull)
      HistSketch.rollup(
          HistSketch.sketchBy(gaps, lit(0L), col("gap"), subBits = 5),
          lit(1), Seq((50, 100), (95, 100), (99, 100)), subBits = 5)
        .select(col("n_total"), col("p_50_100"), col("p_95_100"), col("p_99_100"))
    },

    // Exact-distinct bitmap rollup: q112's pattern with EXACT counts —
    // per-day (bitmap number, bitmap) rows OR-merged to months;
    // idempotent merge collapses re-delivered keys, and the result
    // hash-matches DuckDB's plain COUNT(DISTINCT) with no error-envelope
    // argument needed. The exact form suits dense/bounded key domains
    // (custkeys); HLL (q112) suits open-ended ones.
    "q119_bitmap_rollup" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
      val daily = SketchOps.bitmapSketchBy(orders, col("o_orderdate"), col("o_custkey"))
      SketchOps.bitmapRollup(daily, trunc(col("bucket"), "month"))
        .select(col("grp").as("month"), col("exact_distinct"))
        .orderBy("month")
    },

    // One-pass column profiler (Profiler.profile): the per-source
    // data-quality report — rows/nulls/exact-distinct/min/max/bytes for
    // five columns of orders in ONE aggregate over ONE scan (countDistinct
    // multi-column form plans a single Expand pass, not one job per
    // column). o_orderdate profiled as DATE so min/max render
    // engine-identically; the double column is excluded (float-to-text
    // is engine-specific, documented on the operator).
    "q114_profile" -> { (s, dir) =>
      val orders = t(s, dir, "orders")
        .withColumn("o_orderdate", to_date(col("o_orderdate")))
      graft.operators.Profiler.profile(
          orders,
          Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority"))
        .orderBy("col_name")
    },

    // Persisted-histogram quantile rollup (HistSketch): per-day HDR-style
    // log-bucket counts of lineitem price cents — the mergeable table an
    // ingest job stores — rolled up to per-month p50/p95/p99 WITHOUT
    // touching raw rows again. The bucket map is pure integer/bit
    // arithmetic (floor-log2 via minimal binary-string length) and the
    // rank gate is division-free (cum*qd >= n*qn), so the approximate
    // quantiles are DETERMINISTIC and the oracle re-derives them
    // bit-for-bit — unlike merge-order-dependent sketches (GK/KLL).
    "q116_hist_quantiles" -> { (s, dir) =>
      val li = t(s, dir, "lineitem")
      val cents = round(col("l_extendedprice") * 100).cast("long")
      val daily = graft.operators.HistSketch.sketchBy(
        li, to_date(col("l_shipdate")), cents, subBits = 5)
      graft.operators.HistSketch.rollup(
          daily, trunc(col("bucket"), "month"),
          Seq((50, 100), (95, 100), (99, 100)), subBits = 5)
        .select(col("grp").as("month"), col("n_total"),
          col("p_50_100"), col("p_95_100"), col("p_99_100"))
        .orderBy("month")
    },

    // Set operations: key sets via INTERSECT / EXCEPT (both plan as
    // aggregate + join under AQE, no row payload).
    "q34_setops" -> { (s, dir) =>
      val ck = t(s, dir, "customer").select(col("c_custkey").as("k"))
      val sk = t(s, dir, "supplier").select(col("s_suppkey").as("k"))
      ck.intersect(sk).select(lit("both").as("tag"), col("k"))
        .unionByName(ck.except(sk).select(lit("cust_only").as("tag"), col("k")))
        .orderBy("tag", "k")
    },

    // As-of join: each purchase event picks up the user's latest click at
    // or before it (AsOfJoin: union + single key-shuffle + sorted window,
    // no range-join blowup). Clicks are pre-reduced per (user, ts) so the
    // tie rule is deterministic on both engines; raw nanos ordering.
    "q35_asof" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val purchases = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), col("user_id"), col("ts"))
      val clicks = ev.where(col("event_type") === "click")
        .groupBy("user_id", "ts").agg(max(col("event_id")).as("cid"))
      AsOfJoin(purchases, clicks, Seq("user_id"), "ts", "ts", Seq("cid"))
        .where(col("asof_cid").isNotNull)
        .select(col("pid"), col("asof_cid").as("cid"))
        .orderBy("pid")
    },

    // JSON scalar surface: typed from_json over the events.props payload
    // column, extracted field aggregated per event type. The parse is a
    // per-row expression in the scan stage — no UDF, no shuffle of the
    // raw JSON.
    "q41_json" -> { (s, dir) =>
      import org.apache.spark.sql.types.{IntegerType, StructField, StructType}
      t(s, dir, "events")
        .select(
          col("event_type"),
          from_json(col("props"), StructType(Seq(StructField("k", IntegerType))))
            .getField("k").as("k"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("cnt"), sum(col("k")).as("sum_k"), max(col("k")).as("max_k"))
        .orderBy("event_type")
    },

    // Pivot (conditional-aggregation spread): orders per year x priority.
    // Pivot values are pinned explicitly (sanitized to stable column
    // names) and coalesced to 0 so empty cells match the oracle's
    // FILTER-count zeros.
    "q42_pivot" -> { (s, dir) =>
      val prios = Seq(
        "1-URGENT" -> "p1_urgent",
        "2-HIGH" -> "p2_high",
        "3-MEDIUM" -> "p3_medium",
        "4-NOT SPECIFIED" -> "p4_not_specified",
        "5-LOW" -> "p5_low")
      t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
        .groupBy("yr")
        .pivot("o_orderpriority", prios.map(_._1))
        .agg(count(lit(1)))
        .select(col("yr") +: prios.map { case (v, a) =>
          coalesce(col(s"`$v`"), lit(0L)).as(a)
        }: _*)
        .orderBy("yr")
    },

    // Batch sessionization via session_window (the same gap-merge the
    // streaming path uses — Spark unifies them): per-user sessions with
    // a 30-minute gap. Oracle reconstructs sessions with the lag/running-
    // sum idiom; both compare at microsecond precision. Inclusive-gap
    // boundary semantics match (session_window merges diff <= gap; the
    // oracle breaks on diff > gap).
    "q40_sessionize" -> { (s, dir) =>
      t(s, dir, "events")
        .select(col("user_id"), timestamp_micros(expr("ts div 1000")).as("tsc"))
        .groupBy(session_window(col("tsc"), "30 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(
          col("user_id"),
          unix_micros(col("session_window.start")).as("session_start_us"),
          col("n_events"))
        .orderBy("user_id", "session_start_us")
    },

    // Fact-to-dimension join + rollup by a derived dimension attribute
    // (TPC-H Q14 shape): lineitem x part on partkey, revenue in exact
    // cents per brand. part is small relative to lineitem at every sf ->
    // broadcast; the aggregate partial-reduces before its shuffle.
    "q39_part_revenue" -> { (s, dir) =>
      val l = t(s, dir, "lineitem")
      val p = t(s, dir, "part")
      l.join(broadcast(p), l("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("line_cnt"),
          sum(col("l_quantity").cast("long")).as("qty"),
          sum(round(col("l_extendedprice") * (lit(1) - col("l_discount")) * 100)
            .cast("long")).as("revenue_cents"))
        .orderBy("p_brand")
    },

    // Range join via bucketing: events within the minute before each
    // purchase (any user). A naive BETWEEN theta-join is
    // broadcast-nested-loop (O(n*m)); RangeJoin buckets the time axis so
    // it's a hash equi-join + in-bucket filter. Both engines compare at
    // microsecond precision (Spark `div 1000` and DuckDB's nanos->micros
    // read both floor).
    "q38_range_join" -> { (s, dir) =>
      val ev = t(s, dir, "events")
      val all = ev.select(col("event_id"), expr("ts div 1000").as("tus"))
      val p = ev.where(col("event_type") === "purchase")
        .select(col("event_id").as("pid"), expr("ts div 1000").as("ptus"))
        .withColumn("lo", col("ptus") - 60000000L)
      RangeJoin.pointInInterval(p, all, "lo", "ptus", "tus", bucketWidth = 60000000L)
        .groupBy("pid").agg(count(lit(1)).as("cnt"))
        .orderBy("pid")
    },

    // CUBE: all four grouping sets (status x priority, each alone, grand
    // total) in ONE Expand + hash-agg pass — one shuffle total, vs four
    // separate scans+aggregates a naive union would cost. Money is exact
    // cents (rounded to integral doubles sum exactly; cast to long).
    "q47_cube" -> { (s, dir) =>
      t(s, dir, "orders")
        .cube(col("o_orderstatus"), col("o_orderpriority"))
        .agg(
          count(lit(1)).as("cnt"),
          sum(round(col("o_totalprice") * 100).cast("long")).as("cents"))
        .select(
          coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
          coalesce(col("o_orderpriority"), lit("ALL")).as("prio"),
          col("cnt"),
          col("cents"))
        .orderBy("status", "prio")
    },

    // Exact percentiles (continuous/interpolated) per group via the
    // sort-based AggOps.exactPercentiles — bounded memory at any group
    // size, unlike the built-in `percentile`'s per-group value map
    // (OperatorSpec asserts the two agree, and that approx_percentile
    // lands within tolerance as the sketch path). Rounded to 6 decimals:
    // both engines interpolate the same rank formula, rounding absorbs
    // the last-ulp difference of the interpolation orderings.
    "q48_percentiles" -> { (s, dir) =>
      // ONE scan + ONE percentile pipeline for both measures: unpivot the
      // two value columns into (which, v) rows and group by (which, flag)
      // — vs two separate pipelines this halves the scan / count-agg /
      // range-shuffle fixed costs, and the unpivoted shuffle volume is
      // the same (it is dominated by the near-unique price column either
      // way). The tiny 6-row result pivots back with one conditional agg.
      val pct = t(s, dir, "lineitem")
        .selectExpr("l_returnflag",
          "stack(2, 'qty', l_quantity, 'price', l_extendedprice) AS (which, v)")
        .transform(AggOps.exactPercentiles(
          Seq("which", "l_returnflag"), "v",
          Seq(0.25, 0.5, 0.75, 0.9), Seq("p25", "p50", "p75", "p90")))
      pct.groupBy("l_returnflag")
        .agg(
          max(when(col("which") === "qty", col("p25"))).as("q25"),
          max(when(col("which") === "qty", col("p50"))).as("q50"),
          max(when(col("which") === "qty", col("p75"))).as("q75"),
          max(when(col("which") === "price", col("p90"))).as("pr90"))
        .select(
          col("l_returnflag"),
          round(col("q25"), 6).as("p25_qty"),
          round(col("q50"), 6).as("p50_qty"),
          round(col("q75"), 6).as("p75_qty"),
          round(col("pr90"), 6).as("p90_price"))
        .orderBy("l_returnflag")
    },

    // Analytic lead/lag: per-customer day gap and spend delta between
    // consecutive orders. Same single-exchange window shape as q33; the
    // unique orderkey tie-break makes lag() deterministic.
    "q49_lead_lag" -> { (s, dir) =>
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate"), col("o_orderkey"))
      val cents = round(col("o_totalprice") * 100).cast("long")
      t(s, dir, "orders")
        .select(
          col("o_custkey"),
          col("o_orderkey"),
          datediff(col("o_orderdate").cast("date"), lag(col("o_orderdate"), 1).over(w).cast("date"))
            .cast("int").as("gap_days"),
          (cents - lag(cents, 1).over(w)).as("delta_cents"))
        .orderBy("o_custkey", "o_orderkey")
    },

    // Scalar subquery through the SQL front-end (spark.sql over a direct
    // parquet relation — no temp view, so the query function stays pure):
    // orders above the global mean price, counted per priority.
    // The mean is computed over integral cent doubles (sums exactly in
    // IEEE double at any row count that fits 2^53 cents — deterministic
    // under any aggregation order, so the > comparison can't flap).
    "q50_above_avg" -> { (s, dir) =>
      val ord = s"parquet.`$dir/orders.parquet`"
      s.sql(
        s"""SELECT o_orderpriority, count(*) AS cnt
           |FROM $ord
           |WHERE round(o_totalprice * 100) >
           |      (SELECT avg(round(o_totalprice * 100)) FROM $ord)
           |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin)
    },

    // Regex extraction surface: leading word of each part name (Java and
    // RE2 agree on this pattern class), distinct-count of brands per
    // word. countDistinct is exact (two-phase hash agg).
    "q51_regex" -> { (s, dir) =>
      t(s, dir, "part")
        .select(
          regexp_extract(col("p_name"), "^(\\w+)", 1).as("first_word"),
          col("p_brand"))
        .groupBy("first_word")
        .agg(count(lit(1)).as("cnt"), countDistinct(col("p_brand")).as("brands"))
        .orderBy("first_word")
    },

    // MapType surface: props parsed as a real map column, exploded to
    // (key, value) rows, aggregated per key — the dynamic-schema
    // counterpart of q41's fixed-struct extraction (generic property
    // bags are the common telemetry shape; the map parse happens in the
    // scan stage).
    "q59_maptype" -> { (s, dir) =>
      import org.apache.spark.sql.types.{IntegerType, MapType, StringType}
      t(s, dir, "events")
        .select(explode(from_json(col("props"), MapType(StringType, IntegerType)))
          .as(Seq("key", "value")))
        .groupBy("key")
        .agg(
          count(lit(1)).as("cnt"),
          sum(col("value")).as("sum_v"),
          min(col("value")).as("min_v"),
          max(col("value")).as("max_v"))
        .orderBy("key")
    },

    // Time-grid resample + forward fill: each user's purchase value
    // projected onto a daily grid, latest purchase carried forward —
    // grid explode + as-of join (Resample), no range join. Observations
    // are pre-reduced per (user, ts) so the carried value is
    // deterministic.
    "q62_resample" -> { (s, dir) =>
      val day = 86400000000L // micros
      val obs = t(s, dir, "events")
        .where(col("event_type") === "purchase")
        .select(col("user_id"), expr("ts div 1000").as("tus"), col("value"))
        .groupBy("user_id", "tus").agg(max(col("value")).as("v"))
      Resample.forwardFill(obs, Seq("user_id"), "tus", Seq("v"), day)
        .where(col("asof_v").isNotNull)
        .select(col("user_id"), col("grid_ts"), col("asof_v").as("v"))
        .orderBy("user_id", "grid_ts")
    },

    // Unpivot (melt): the inverse reshape of q42 — the wide yr x priority
    // count matrix back to long (yr, prio, cnt) rows, zeros included.
    // Wide-to-long is a per-row Expand (no shuffle); only the final sort
    // exchanges.
    "q61_unpivot" -> { (s, dir) =>
      val prios = Seq(
        "1-URGENT" -> "p1_urgent",
        "2-HIGH" -> "p2_high",
        "3-MEDIUM" -> "p3_medium",
        "4-NOT SPECIFIED" -> "p4_not_specified",
        "5-LOW" -> "p5_low")
      val wide = t(s, dir, "orders")
        .select(year(col("o_orderdate")).as("yr"), col("o_orderpriority"))
        .groupBy("yr")
        .pivot("o_orderpriority", prios.map(_._1))
        .agg(count(lit(1)))
        .select(col("yr") +: prios.map { case (v, a) =>
          coalesce(col(s"`$v`"), lit(0L)).as(a)
        }: _*)
      wide.unpivot(
          Array(col("yr")),
          prios.map(p => col(p._2)).toArray,
          "prio", "cnt")
        .orderBy("yr", "prio")
    },

    // Data-profiling audit: one pass over the fact table computing row
    // count, per-column exact distinct counts, null counts and ranges —
    // the ingest-validation query every pipeline runs first. Multiple
    // COUNT(DISTINCT) in one aggregate plans as a single Expand + one
    // shuffle, not one scan per column.
    "q60_profile" -> { (s, dir) =>
      t(s, dir, "lineitem")
        .agg(
          count(lit(1)).as("rows"),
          countDistinct(col("l_partkey")).as("d_part"),
          countDistinct(col("l_suppkey")).as("d_supp"),
          countDistinct(col("l_returnflag")).as("d_flag"),
          sum(col("l_partkey").isNull.cast("long")).as("null_part"),
          min(col("l_quantity")).as("min_qty"),
          max(col("l_quantity")).as("max_qty"))
    },

    // Per-group top-k (generalizes lab11's top-1): top-3 orders per
    // priority by price — via the custom TopKPerKey operator (bounded
    // heaps, partial+final, no partition sort; graft.plans). The window
    // formulation stays available as AggOps.topK.
    "q36_topk" -> { (s, dir) =>
      val df = t(s, dir, "orders")
      graft.plans.TopK.perKey(
        df,
        Seq(col("o_orderpriority")),
        Seq(col("o_totalprice").desc, col("o_orderkey").asc),
        3)
        .select(
          col("o_orderpriority"),
          col("o_orderkey"),
          round(col("o_totalprice") * 100).cast("long").as("price_cents"))
        .orderBy(col("o_orderpriority"), col("price_cents").desc, col("o_orderkey"))
    },

    // Explicit GROUPING SETS — the general Expand form that rollup (q31)
    // and cube (q47) are special cases of: three UNRELATED grouping sets
    // ((flag,status),(flag),(ship_year)) resolved in ONE pass, with
    // grouping_id() disambiguating which set a row belongs to (both
    // engines encode it first-column = MSB: (A,F,·)=1, (A,·,·)=3,
    // (·,·,1997)=6 — probed, not assumed). PlanSpec pins ONE Expand +
    // ONE hash-partition exchange with a partial aggregate below it:
    // 3× row replication at the map side, never 3 scans or a union of
    // aggregates. Scale: replication factor = #sets (constant), and the
    // partial agg collapses each task's rows to ~|groups| before the
    // shuffle — bytes moved stay proportional to group count, not input.
    "q81_grouping_sets" -> { (s, dir) =>
      val li = s"parquet.`$dir/lineitem.parquet`"
      s.sql(
        s"""SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
           |       coalesce(CAST(year(l_shipdate) AS INT), -1) AS ship_year,
           |       CAST(grouping_id(l_returnflag, l_linestatus, year(l_shipdate)) AS BIGINT) AS gid,
           |       count(*) AS cnt,
           |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
           |FROM $li
           |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
           |                        (year(l_shipdate)))
           |ORDER BY gid, rf, ls, ship_year""".stripMargin)
    },

    // Recursive CTE (Spark 4.x WITH RECURSIVE, UnionLoop execution):
    // cumulative monthly 1997 revenue as a month-over-month ladder — the
    // anchor seeds January, each iteration joins the PREVIOUS iteration's
    // single row to the next month's aggregate. Exercises the iterative
    // plan surface (UnionLoop/UnionLoopRef — PlanSpec pins it) with a
    // recursion depth bounded by the calendar (12), independent of SF;
    // the date window is a raw-column pushdown on every iteration's scan.
    // Determinism: exact integer cents throughout; m is a unique key.
    "q82_recursive_cummonth" -> { (s, dir) =>
      val ord = s"parquet.`$dir/orders.parquet`"
      val monthly =
        s"""SELECT CAST(month(o_orderdate) AS INT) AS m,
           |               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_e4
           |        FROM $ord
           |        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           |          AND o_orderdate <  TIMESTAMP '1998-01-01'
           |        GROUP BY 1""".stripMargin
      s.sql(
        s"""WITH RECURSIVE cum AS (
           |  SELECT m, rev_e4, rev_e4 AS cum_e4
           |  FROM ($monthly)
           |  WHERE m = 1
           |  UNION ALL
           |  SELECT mo.m, mo.rev_e4, cum.cum_e4 + mo.rev_e4
           |  FROM cum
           |  JOIN ($monthly) mo ON mo.m = cum.m + 1
           |)
           |SELECT m, rev_e4, cum_e4 FROM cum ORDER BY m""".stripMargin)
    },

    // LATERAL correlated subquery join — the FROM-clause correlate (each
    // region row drives a dependent subquery with its own ORDER BY +
    // LIMIT): top-2 suppliers per region. Catalyst decorrelates the
    // correlated LIMIT into a per-regionkey row_number window + ONE join
    // — never a per-row subquery execution (PlanSpec pins no Subquery
    // node; with GraftExtensions active the row_number<=k idiom is
    // further rewritable to the bounded-heap TopKPerKey operator). Scale:
    // the supplier⨝nation side shuffles once on regionkey for the window;
    // region broadcasts; output ≤ 2 rows per region.
    "q83_lateral_top2" -> { (s, dir) =>
      val supp = s"parquet.`$dir/supplier.parquet`"
      val nat = s"parquet.`$dir/nation.parquet`"
      val reg = s"parquet.`$dir/region.parquet`"
      s.sql(
        s"""SELECT r_name, s_name, acctbal_cents
           |FROM $reg r
           |JOIN LATERAL (
           |  SELECT s_name, CAST(round(s_acctbal*100) AS BIGINT) AS acctbal_cents
           |  FROM $supp s
           |  JOIN $nat n ON s.s_nationkey = n.n_nationkey
           |  WHERE n.n_regionkey = r.r_regionkey
           |  ORDER BY s_acctbal DESC, s_name
           |  LIMIT 2
           |) t ON TRUE
           |ORDER BY r_name, acctbal_cents DESC, s_name""".stripMargin)
    },

    // VARIANT semi-structured column (Spark 4 binary JSON encoding):
    // parse_json ONCE into a variant, then typed-path extraction with
    // variant_get — the modern lake pattern for schema-on-read property
    // bags (vs q41's typed from_json and q59's MapType explode, which
    // need a declared schema up front). At scale the parse happens once
    // per row in the scan stage and each path read is a cheap binary
    // descent, not a re-parse of the JSON text per extracted field.
    "q84_variant" -> { (s, dir) =>
      val ev = s"parquet.`$dir/events.parquet`"
      s.sql(
        s"""SELECT event_type, count(*) AS cnt,
           |       CAST(sum(variant_get(parse_json(props), '$$.k', 'bigint')) AS BIGINT) AS sum_k,
           |       min(variant_get(parse_json(props), '$$.k', 'bigint')) AS min_k,
           |       max(variant_get(parse_json(props), '$$.k', 'bigint')) AS max_k
           |FROM $ev
           |GROUP BY event_type
           |ORDER BY event_type""".stripMargin)
    }
  )

  val oracleSql: Map[String, String] = Map(
    "q31_rollup" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS rf, coalesce(l_linestatus, 'ALL') AS ls,
        |       count(*) AS cnt, CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus) ORDER BY rf, ls""".stripMargin,
    "q32_semi_anti" ->
      """SELECT 'has_orders' AS tag, c_custkey FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |UNION ALL
        |SELECT 'no_orders' AS tag, c_custkey FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY tag, c_custkey""".stripMargin,
    "q33_window_rank" ->
      """SELECT o_custkey, o_orderkey,
        |       row_number() OVER w AS seq,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) OVER (
        |         PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
        |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS run_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, seq""".stripMargin,
    "q103_window_family" ->
      """SELECT o_custkey, o_orderkey,
        |       ntile(4) OVER w AS quartile,
        |       dense_rank() OVER w AS drank,
        |       round(percent_rank() OVER w, 6) AS prank,
        |       round(cume_dist() OVER w, 6) AS cdist
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q108_stats_moments" ->
      """WITH b AS (SELECT l_returnflag AS rf, CAST(l_quantity AS BIGINT) AS q,
        |                  CAST(round(l_extendedprice * 100) AS HUGEINT) AS c
        |           FROM lineitem),
        |a AS (SELECT rf, count(*) AS n,
        |             CAST(sum(q) AS HUGEINT) AS sq, CAST(sum(q*q) AS HUGEINT) AS sqq,
        |             sum(c) AS sc, sum(c*c) AS scc, sum(CAST(q AS HUGEINT)*c) AS sqc
        |      FROM b GROUP BY rf)
        |SELECT rf, CAST(n AS BIGINT) AS n,
        |       round(sq::DOUBLE / n, 6) AS mean_qty,
        |       round(sqrt((n*sqq - sq*sq)::DOUBLE / (n*(n-1))::DOUBLE), 6) AS stddev_qty,
        |       round((n*sqc - sq*sc)::DOUBLE /
        |             (sqrt((n*sqq - sq*sq)::DOUBLE) * sqrt((n*scc - sc*sc)::DOUBLE)),
        |             6) AS corr_qty_price
        |FROM a ORDER BY rf""".stripMargin,
    "q105_range_frame" ->
      """WITH o AS (SELECT o_custkey, o_orderkey,
        |  CAST(date_diff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS INTEGER) AS day_no,
        |  CAST(round(o_totalprice * 100) AS BIGINT) AS cents FROM orders)
        |SELECT o_custkey, o_orderkey, day_no,
        |       CAST(sum(cents) OVER w AS BIGINT) AS win_cents,
        |       CAST(count(*) OVER w AS BIGINT) AS win_orders
        |FROM o
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY day_no
        |             RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q106_histogram" ->
      """WITH b AS (SELECT
        |  CAST(floor(10.0 * (l_quantity - 1.0) / 50.0) AS INTEGER) + 1 AS bucket,
        |  l_quantity, CAST(round(l_extendedprice * 100) AS BIGINT) AS price_cents
        |  FROM lineitem)
        |SELECT bucket, count(*) AS cnt, min(l_quantity) AS min_q,
        |       max(l_quantity) AS max_q, CAST(sum(price_cents) AS BIGINT) AS cents
        |FROM b GROUP BY bucket ORDER BY bucket""".stripMargin,
    // The 5-step magic-mask bit spread, re-derived as plain SQL bit
    // arithmetic (one CTE per step; DuckDB's &, |, << are 64-bit signed
    // like the JVM's). Any divergence in the interleave flips bits in
    // zkey and fails the hash compare.
    "q110_zorder" ->
      """WITH z0 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  CAST(l_partkey AS BIGINT) & 4294967295 AS px,
        |  CAST(l_suppkey AS BIGINT) & 4294967295 AS py
        |  FROM lineitem WHERE l_orderkey % 97 = 0),
        |z1 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  (px | (px << 16)) & 281470681808895 AS px,
        |  (py | (py << 16)) & 281470681808895 AS py FROM z0),
        |z2 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  (px | (px << 8)) & 71777214294589695 AS px,
        |  (py | (py << 8)) & 71777214294589695 AS py FROM z1),
        |z3 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  (px | (px << 4)) & 1085102592571150095 AS px,
        |  (py | (py << 4)) & 1085102592571150095 AS py FROM z2),
        |z4 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  (px | (px << 2)) & 3689348814741910323 AS px,
        |  (py | (py << 2)) & 3689348814741910323 AS py FROM z3),
        |z5 AS (SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |  (px | (px << 1)) & 6148914691236517205 AS px,
        |  (py | (py << 1)) & 6148914691236517205 AS py FROM z4)
        |SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
        |       px | (py << 1) AS zkey
        |FROM z5 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // The same 3-D magic-mask sequence, re-derived in SQL (masks in
    // decimal; each of the three coordinates walks the 5 spread steps,
    // then interleaves at strides 0/1/2).
    "q154_zorder3" ->
      """WITH z0 AS (SELECT l_orderkey, l_linenumber,
        |  CAST(l_partkey AS BIGINT) & 2097151 AS px,
        |  CAST(l_suppkey AS BIGINT) & 2097151 AS py,
        |  CAST(l_linenumber AS BIGINT) & 2097151 AS pz
        |  FROM lineitem WHERE l_orderkey % 97 = 0),
        |z1 AS (SELECT l_orderkey, l_linenumber,
        |  (px | (px << 32)) & 8725724278095871 AS px,
        |  (py | (py << 32)) & 8725724278095871 AS py,
        |  (pz | (pz << 32)) & 8725724278095871 AS pz FROM z0),
        |z2 AS (SELECT l_orderkey, l_linenumber,
        |  (px | (px << 16)) & 8725728556220671 AS px,
        |  (py | (py << 16)) & 8725728556220671 AS py,
        |  (pz | (pz << 16)) & 8725728556220671 AS pz FROM z1),
        |z3 AS (SELECT l_orderkey, l_linenumber,
        |  (px | (px << 8)) & 1157144660301377551 AS px,
        |  (py | (py << 8)) & 1157144660301377551 AS py,
        |  (pz | (pz << 8)) & 1157144660301377551 AS pz FROM z2),
        |z4 AS (SELECT l_orderkey, l_linenumber,
        |  (px | (px << 4)) & 1207822528635744451 AS px,
        |  (py | (py << 4)) & 1207822528635744451 AS py,
        |  (pz | (pz << 4)) & 1207822528635744451 AS pz FROM z3),
        |z5 AS (SELECT l_orderkey, l_linenumber,
        |  (px | (px << 2)) & 1317624576693539401 AS px,
        |  (py | (py << 2)) & 1317624576693539401 AS py,
        |  (pz | (pz << 2)) & 1317624576693539401 AS pz FROM z4)
        |SELECT l_orderkey, l_linenumber,
        |       px | (py << 1) | (pz << 2) AS zkey
        |FROM z5 ORDER BY l_orderkey, l_linenumber""".stripMargin,
    // Relational re-derivation of the MERGE result: source wins on key
    // (updates repartitioned to 'F', inserts re-keyed into 'N'),
    // untouched target rows carried — exactly what the committed
    // snapshot must contain.
    "q130_lake_merge" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
        |         o_totalprice + 100.0 AS o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT * FROM t WHERE o_orderkey % 10 <> 0)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // The SQL DML chain re-derived relationally: MERGE = source wins on
    // key ∪ untouched target rows, UPDATE = conditional price bump,
    // DELETE = modulo filter — applied in order to the base table.
    "q149_sql_catalog_dml" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                   CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders),
        |src AS (
        |  SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
        |         o_totalprice + 100.0 AS o_totalprice
        |  FROM t0 WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice
        |  FROM t0 WHERE o_orderkey % 10 = 3),
        |merged AS (
        |  SELECT * FROM src
        |  UNION ALL
        |  SELECT * FROM t0 WHERE o_orderkey % 10 <> 0),
        |updated AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_custkey % 100 = 1 THEN o_totalprice + 7.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM merged),
        |final AS (SELECT * FROM updated WHERE o_orderkey % 10 <> 6)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // the stream must deliver exactly the three inserted slices = the
    // whole orders table, once each.
    "q151_catalog_stream_table" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the per-commit feed replayed relationally: v3 = the merge's
    // updates (pre+post images) and inserts, v4 = the delete of the odd
    // inserted 'N' rows (key+1e9 preserves parity; prices unchanged).
    "q153_catalog_stream_changes" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders),
        |feed AS (
        |  SELECT 3 AS _commit_version, 'insert' AS _change_type, o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT 3, 'update_preimage', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 3, 'update_postimage', o_totalprice + 100.0
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 4, 'delete', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3 AND o_orderkey % 2 = 1)
        |SELECT _commit_version, _change_type, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM feed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the CDC batch replayed relationally: %10=4 keys deleted, %10=0
    // keys repriced (+50), %10=7 keys re-inserted under new ids in 'P'.
    "q152_sql_merge_cdc" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                   CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders),
        |final AS (
        |  SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 50.0
        |              ELSE o_totalprice END AS o_totalprice
        |  FROM t0 WHERE o_orderkey % 10 <> 4
        |  UNION ALL
        |  SELECT o_orderkey + 2000000000, o_custkey, 'P', o_totalprice
        |  FROM t0 WHERE o_orderkey % 10 = 7)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // baseline = the full table (the pinned pre-delete snapshot);
    // head = the post-delete remainder.
    "q163_snapshot_tags" ->
      """WITH pr AS (SELECT o_orderkey, o_orderstatus,
        |                   CAST(o_totalprice AS DOUBLE) AS pr FROM orders)
        |SELECT 'baseline' AS src, o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM pr GROUP BY 1, 2
        |UNION ALL
        |SELECT 'head' AS src, o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM pr WHERE o_orderkey % 4 = 1 GROUP BY 1, 2
        |ORDER BY src, o_orderstatus""".stripMargin,
    // both aggregate arms re-derived relationally — the pushed arm's
    // values come from manifest stats in the engine, from the rows here.
    "q164_agg_pushdown" ->
      """WITH t AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice,
        |                  o_orderdate FROM orders)
        |SELECT 'all' AS src, count(*) AS cnt,
        |       min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key,
        |       min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price,
        |       min(o_orderdate) AS mn_date, max(o_orderdate) AS mx_date
        |FROM t
        |UNION ALL
        |SELECT 'filtered' AS src, count(*) AS cnt,
        |       min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key,
        |       min(o_totalprice) AS mn_price, max(o_totalprice) AS mx_price,
        |       min(o_orderdate) AS mn_date, max(o_orderdate) AS mx_date
        |FROM t WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |ORDER BY src""".stripMargin,
    // the replayed inserts/delete with uids == cnt (identity uniqueness
    // folded into the hashed result without exposing allocation order).
    "q176_identity_columns" ->
      """WITH s1 AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 3000000, o_orderstatus FROM orders WHERE o_orderkey % 10 = 0
        |), s2 AS (SELECT * FROM s1 WHERE k % 7 <> 3),
        |s3 AS (SELECT * FROM s2 UNION ALL SELECT 9999999, 'O')
        |SELECT st AS status, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(count(*) AS BIGINT) AS uids,
        |       CAST(min(k) AS BIGINT) AS mn_key, CAST(max(k) AS BIGINT) AS mx_key
        |FROM s3 GROUP BY st ORDER BY status""".stripMargin,
    // the band expression recomputed relationally at read time over the
    // replayed statements (delete band 0, double prices of key%3=0).
    "q175_generated_columns" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, CAST(o_totalprice AS DOUBLE) AS price FROM orders
        |), s1 AS (
        |  SELECT * FROM base WHERE CAST(floor(price / 50000.0) AS BIGINT) <> 0
        |), s2 AS (
        |  SELECT k, CASE WHEN k % 3 = 0 THEN price * 2 ELSE price END AS price FROM s1
        |)
        |SELECT CAST(floor(price / 50000.0) AS BIGINT) AS price_band,
        |       CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(min(k) AS BIGINT) AS mn_key, CAST(max(k) AS BIGINT) AS mx_key,
        |       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM s2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // the final source state re-derived relationally (delete, shifted
    // insert, fee update in statement order), then both views' aggregates
    // recomputed from scratch — the incremental merges must land exactly
    // here. Integer cents make the sums order-independent.
    // the join aggregate recomputed from the FINAL state of both sides
    "q181_matview_join" ->
      """WITH fact AS (
        |  SELECT o_orderkey, o_custkey,
        |         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders WHERE o_orderkey % 5 <> 2
        |  UNION ALL
        |  SELECT o_orderkey + 5000000, o_custkey,
        |         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) * 2
        |  FROM orders WHERE o_orderkey % 11 = 0),
        |dim AS (
        |  SELECT c_custkey,
        |         CASE WHEN c_custkey % 7 = 1 THEN 'MOVED' ELSE c_mktsegment END AS c_seg
        |  FROM customer)
        |SELECT c_seg, count(*) AS cnt,
        |       CAST(sum(cents) AS BIGINT) AS cents
        |FROM fact JOIN dim ON o_custkey = c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the three waves re-derived, then re-aggregated; avg compared as
    // floor(100 * exact-integer-sum / count) — the same double division
    // the incremental fold performs, so representability is identical.
    "q180_matview_avg_distinct" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_custkey,
        |         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders),
        |w2 AS (
        |  SELECT * FROM base WHERE o_custkey % 10 <> 3
        |  UNION ALL
        |  SELECT o_orderkey + 5000000, o_orderstatus, o_custkey, cents * 2
        |  FROM base WHERE o_orderkey % 11 = 0),
        |w3 AS (
        |  SELECT o_orderstatus, o_custkey,
        |         CASE WHEN o_orderkey % 7 = 0 THEN cents + 100 ELSE cents END AS cents
        |  FROM w2)
        |SELECT o_orderstatus AS status, count(*) AS cnt,
        |       CAST(floor(CAST(CAST(sum(cents) AS BIGINT) AS DOUBLE)
        |                  / count(cents) * 100) AS BIGINT) AS avg100,
        |       CAST(count(DISTINCT o_custkey) AS BIGINT) AS cd
        |FROM w3 GROUP BY 1 ORDER BY 1""".stripMargin,
    "q174_matview_refresh" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS st,
        |         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders
        |), s1 AS (SELECT * FROM base WHERE k % 5 <> 2),
        |s2 AS (
        |  SELECT * FROM s1
        |  UNION ALL
        |  SELECT k + 5000000, st, cents * 2 FROM base WHERE k % 11 = 0
        |), s3 AS (
        |  SELECT k, st, CASE WHEN k % 7 = 0 THEN cents + 100 ELSE cents END AS cents
        |  FROM s2
        |)
        |SELECT st AS status, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(cents) AS BIGINT) AS cents,
        |       CAST(min(k) AS BIGINT) AS mn_key, CAST(max(k) AS BIGINT) AS mx_key
        |FROM s3 GROUP BY st ORDER BY status""".stripMargin,
    // the same three correlated DML statements replayed relationally:
    // sequential re-derive: the %7 update adds the row's own customer
    // balance; the merge then doubles-and-adds for %11=3 and inserts
    // shifted %11=4 rows priced at their customer's balance (every
    // o_custkey resolves to exactly one customer row, so the scalar
    // lookups are single-valued).
    "q179_correlated_set" ->
      """WITH cust AS (SELECT c_custkey, CAST(c_acctbal AS DOUBLE) AS bal FROM customer),
        |t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |              CAST(o_totalprice AS DOUBLE) AS pr FROM orders),
        |t1 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 7 = 0
        |              THEN pr + (SELECT bal FROM cust c WHERE c.c_custkey = o_custkey)
        |              ELSE pr END AS pr FROM t0),
        |t2 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 11 = 3
        |              THEN pr * 2 + (SELECT max(bal) FROM cust c WHERE c.c_custkey = o_custkey)
        |              ELSE pr END AS pr FROM t1
        |       UNION ALL
        |       SELECT o_orderkey + 1000000000, o_custkey, o_orderstatus,
        |              (SELECT bal FROM cust c WHERE c.c_custkey = o_custkey) AS pr
        |       FROM orders WHERE o_orderkey % 11 = 4)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM t2 GROUP BY 1 ORDER BY 1""".stripMargin,
    // EXISTS blocklist complement, the per-customer threshold fee, the
    // NOT EXISTS anti gate — DuckDB plans the correlation natively.
    "q173_dml_correlated" ->
      """WITH s1 AS (
        |  SELECT * FROM orders t
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                    WHERE c.c_custkey = t.o_custkey
        |                      AND c.c_mktsegment = 'BUILDING')
        |), s2 AS (
        |  SELECT o_orderkey, o_custkey,
        |         CASE WHEN CAST(o_totalprice AS DOUBLE) <
        |                   (SELECT max(CAST(c_acctbal AS DOUBLE)) FROM customer c
        |                    WHERE c.c_custkey = t.o_custkey)
        |              THEN CAST(o_totalprice AS DOUBLE) + 1.0
        |              ELSE CAST(o_totalprice AS DOUBLE) END AS price
        |  FROM s1 t
        |), s3 AS (
        |  SELECT * FROM s2 t
        |  WHERE EXISTS (SELECT 1 FROM customer c
        |                WHERE c.c_custkey = t.o_custkey
        |                  AND CAST(c.c_acctbal AS DOUBLE) >= 0.0)
        |), mach AS (
        |  SELECT c_custkey FROM customer WHERE c_mktsegment = 'MACHINERY'
        |), s4 AS (
        |  SELECT t.o_orderkey, t.o_custkey,
        |         CASE WHEN m.c_custkey IS NOT NULL THEN t.price + 5.0
        |              ELSE t.price END AS price
        |  FROM s3 t LEFT JOIN mach m ON t.o_custkey = m.c_custkey
        |  WHERE m.c_custkey IS NULL OR NOT EXISTS (
        |    SELECT 1 FROM customer c WHERE c.c_custkey = t.o_custkey
        |      AND CAST(c.c_acctbal AS DOUBLE) > t.price)
        |)
        |SELECT CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(min(o_orderkey) AS BIGINT) AS mn_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS mx_key,
        |       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM s4""".stripMargin,
    // the fast-forwarded main re-derived relationally: originals minus
    // the branch delete (multiples of 7) plus the branch insert
    // (key-shifted doubled-price copies of multiples of 5).
    "q172_branches" ->
      """WITH t AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS price
        |  FROM orders WHERE o_orderkey % 7 <> 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_orderstatus,
        |         CAST(o_totalprice AS DOUBLE) * 2
        |  FROM orders WHERE o_orderkey % 5 = 0
        |)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(round(price * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // survivors exclude multiples of 14 (the DELETE clause); tagged =
    // the remaining multiples of 7 (the UPDATE clause); cents over
    // survivors. NULL-through-evolution is exactly cnt - tagged.
    "q171_merge_evolution_sql" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CASE WHEN o_orderkey % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
        |         AS tagged,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders WHERE o_orderkey % 14 <> 0
        |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the blocklist complement plus the scalar bump, re-derived
    // relationally: survivors are orders whose customer is NOT in the
    // BUILDING segment; every survivor's price gains min(blocklist key).
    "q170_dml_subquery" ->
      """WITH blk AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
        |     surv AS (SELECT * FROM orders
        |              WHERE o_custkey NOT IN (SELECT c_custkey FROM blk))
        |SELECT CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(min(o_orderkey) AS BIGINT) AS mn_key,
        |       CAST(max(o_orderkey) AS BIGINT) AS mx_key,
        |       CAST(sum(CAST(round((CAST(o_totalprice AS DOUBLE) +
        |                 (SELECT CAST(min(c_custkey) AS DOUBLE) FROM blk)) * 100)
        |                 AS BIGINT)) AS BIGINT) AS cents
        |FROM surv""".stripMargin,
    // per-partition total vs post-delete survivors, straight off orders.
    "q169_partitions_meta" ->
      """SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS total_rows,
        |       CAST(sum(CASE WHEN o_orderkey % 5 = 2 THEN 0 ELSE 1 END) AS BIGINT)
        |         AS live_rows
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the bucketed join delta collapses to the price itself (b = 2*price
    // exactly in doubles, so b - a = price bit-for-bit).
    "q168_bucket_spj" ->
      """SELECT o_custkey, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""".stripMargin,
    // the per-partition profile re-derived relationally (plus the
    // second commit's extra F row).
    "q167_partition_profile" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus,
        |                  CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders
        |           UNION ALL SELECT 3000000000, 'F', 100.5)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       min(o_orderkey) AS mn_key, max(o_orderkey) AS mx_key,
        |       max(o_totalprice) AS mx_price
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the co-partitioned join delta collapses to the price itself
    // (b = 2*price exactly in doubles, so b - a = price bit-for-bit).
    "q166_storage_partitioned_join" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // the runtime-pruned join re-derived relationally.
    "q165_runtime_file_skip" ->
      """SELECT o.o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o.o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
        |WHERE c.c_name = 'Customer#000000019'
        |GROUP BY o.o_orderstatus ORDER BY o.o_orderstatus""".stripMargin,
    // month routing re-derived straight off the raw table.
    "q162_hidden_partitioning" ->
      """SELECT strftime(o_orderdate, '%Y-%m') AS ym, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders WHERE o_orderdate >= TIMESTAMP '1997-01-01 00:00:00'
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the update re-derived relationally (doubled price for matched keys).
    "q161_mor_update" ->
      """WITH t0 AS (
        |  SELECT o_orderkey, o_orderstatus,
        |         CASE WHEN o_orderkey % 11 = 5
        |              THEN CAST(o_totalprice AS DOUBLE) * 2
        |              ELSE CAST(o_totalprice AS DOUBLE) END AS pr
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM t0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // both generations re-derived: gen2 = shifted keys at doubled
    // price; the %5 delete hits both (the shift is a multiple of 5).
    "q178_partition_evolution" ->
      """WITH gens AS (
        |  SELECT o_orderkey AS k, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS pr
        |  FROM orders
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_orderstatus, CAST(o_totalprice AS DOUBLE) * 2
        |  FROM orders)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM gens WHERE k % 5 <> 0 GROUP BY 1 ORDER BY 1""".stripMargin,
    // both generations re-derived: gen1 = even keys at FLOAT precision
    // (REAL→DOUBLE is the float's exact binary value — both engines
    // promote identically), gen2 = odd keys shifted beyond int range at
    // doubled DOUBLE price; the %10=3 delete hits both (the shift is a
    // multiple of 10).
    "q182_type_widening" ->
      """WITH gens AS (
        |  SELECT CAST(o_orderkey AS BIGINT) AS k, o_orderstatus,
        |         CAST(o_custkey AS BIGINT) AS c,
        |         CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS pr
        |  FROM orders WHERE o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 3000000000, o_orderstatus,
        |         CAST(o_custkey AS BIGINT),
        |         CAST(o_totalprice AS DOUBLE) * 2
        |  FROM orders WHERE o_orderkey % 2 = 1)
        |SELECT o_orderstatus, count(*) AS cnt, CAST(sum(c) AS BIGINT) AS sum_cust,
        |       max(k) AS mx_key,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM gens WHERE k % 10 <> 3 GROUP BY 1 ORDER BY 1""".stripMargin,
    // the nested chain re-derived flat: the struct field doubles for
    // %11 keys, xs[0] follows (orig o_orderkey; post-update = the
    // possibly-doubled cust for %13 keys), the map lookup drives the
    // delete — no nested construction needed on the oracle side.
    "q184_nested_types" ->
      """WITH b AS (
        |  SELECT o_orderkey AS k, o_orderstatus AS p,
        |         CAST(o_custkey AS BIGINT) AS c,
        |         CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS cents
        |  FROM orders),
        |s1 AS (SELECT k, p, CASE WHEN k % 11 = 0 THEN c * 2 ELSE c END AS cust,
        |              cents FROM b),
        |s2 AS (SELECT k, p, cust, cents,
        |              CASE WHEN k % 13 = 0 THEN cust ELSE k END AS x0 FROM s1),
        |s3 AS (SELECT * FROM s2 WHERE cents % 7 <> 3)
        |SELECT p, count(*) AS cnt, CAST(sum(cust) AS BIGINT) AS sum_cust,
        |       CAST(sum(x0) AS BIGINT) AS sum_x0,
        |       CAST(sum(cents) AS BIGINT) AS sum_cents
        |FROM s3 GROUP BY 1 ORDER BY 1""".stripMargin,
    // scoped compaction is content-preserving: the rollup equals the
    // two untouched generations.
    "q183_optimize_where" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the CDC MERGE re-derived relationally: %13=0 deleted, %13=1
    // price-tripled, %13=2 re-inserted under a shifted key at half
    // price; everything else untouched.
    "q177_mor_merge" ->
      """WITH live AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey % 13 = 1
        |              THEN CAST(o_totalprice AS DOUBLE) * 3
        |              ELSE CAST(o_totalprice AS DOUBLE) END AS pr
        |  FROM orders WHERE o_orderkey % 13 <> 0
        |  UNION ALL
        |  SELECT o_orderstatus, CAST(o_totalprice AS DOUBLE) / 2 AS pr
        |  FROM orders WHERE o_orderkey % 13 = 2)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM live GROUP BY 1 ORDER BY 1""".stripMargin,
    // both view layers inlined over the post-delete base state.
    "q190_logical_view" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus,
        |            CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS c
        |            FROM orders),
        |live AS (SELECT * FROM t0 WHERE o_orderkey % 5 <> 2),
        |big AS (SELECT * FROM live WHERE c >= 10000000 AND o_orderkey % 2 = 0)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(c) AS BIGINT) AS cents
        |FROM big GROUP BY 1 ORDER BY 1""".stripMargin,
    // the filtered relation after the wave: deletes applied, %7=0 rows
    // fall out of the filter (c=5), %7=1 rows gain 100000.
    "q188_matview_filtered" ->
      """WITH t0 AS (SELECT o_orderkey,
        |            CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS c
        |            FROM orders),
        |state AS (SELECT o_orderkey,
        |          CASE WHEN o_orderkey % 7 = 0 THEN 5
        |               WHEN o_orderkey % 7 = 1 THEN c + 100000
        |               ELSE c END AS c
        |          FROM t0 WHERE o_orderkey % 5 <> 2),
        |filt AS (SELECT o_orderkey % 10 AS kdec, c FROM state WHERE c >= 10000)
        |SELECT kdec, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(c) AS BIGINT) AS cents
        |FROM filt GROUP BY 1 ORDER BY 1""".stripMargin,
    // the SQL-DDL matview re-derived relationally: deletes applied,
    // %7=0 rows drop to 5 cents (out of the filter), %7=1 rows gain
    // 100000, the %11 slice re-appends at double price under shifted
    // keys (kdec stable: 5000000 % 10 = 0), filter o_cents >= 10000.
    "q191_matview_sql" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus,
        |            CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS c
        |            FROM orders),
        |state AS (SELECT o_orderkey, o_orderstatus,
        |          CASE WHEN o_orderkey % 7 = 0 THEN 5
        |               WHEN o_orderkey % 7 = 1 THEN c + 100000
        |               ELSE c END AS c
        |          FROM t0 WHERE o_orderkey % 5 <> 2
        |          UNION ALL
        |          SELECT o_orderkey + 5000000, o_orderstatus, c * 2
        |          FROM t0 WHERE o_orderkey % 11 = 0),
        |filt AS (SELECT o_orderstatus, o_orderkey % 10 AS kdec, c
        |         FROM state WHERE c >= 10000)
        |SELECT o_orderstatus AS status, kdec, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(c) AS BIGINT) AS cents,
        |       CAST(floor(avg(c) * 100) AS BIGINT) AS avg100
        |FROM filt GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // the dim-filtered join re-derived: %9=0 customers deactivate,
    // %9=1 activate, %6=3 facts delete; both filters on the final join.
    "q192_matview_dim_filtered" ->
      """WITH f0 AS (SELECT o_orderkey, o_custkey,
        |            CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS c
        |            FROM orders WHERE o_orderkey % 6 <> 3),
        |d1 AS (SELECT c_custkey, c_mktsegment AS c_seg,
        |       CASE WHEN c_custkey % 9 = 0 THEN -1.0
        |            WHEN c_custkey % 9 = 1 THEN 100.0
        |            ELSE CAST(c_acctbal AS DOUBLE) END AS bal
        |       FROM customer)
        |SELECT c_seg, CAST(count(*) AS BIGINT) AS cnt, CAST(sum(c) AS BIGINT) AS cents
        |FROM f0 JOIN d1 ON f0.o_custkey = d1.c_custkey
        |WHERE c >= 2000 AND bal >= 0
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // the joined state after the wave: survivors of the two-predicate
    // delete, the doubled-price re-append of %11 survivors, and the
    // %7=1 dim rows moved into segment MOVED.
    "q189_matview_minmax_join" ->
      """WITH f0 AS (SELECT o_orderkey, o_custkey,
        |            CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT) AS c
        |            FROM orders),
        |surv AS (SELECT * FROM f0 WHERE o_orderkey % 5 <> 2 AND c < 15000000),
        |f1 AS (SELECT o_orderkey, o_custkey, c FROM surv
        |       UNION ALL
        |       SELECT o_orderkey + 5000000, o_custkey, c * 2 FROM surv
        |       WHERE o_orderkey % 11 = 0),
        |d1 AS (SELECT c_custkey,
        |       CASE WHEN c_custkey % 7 = 1 THEN 'MOVED' ELSE c_mktsegment END AS c_seg
        |       FROM customer)
        |SELECT c_seg, CAST(count(*) AS BIGINT) AS cnt, CAST(min(c) AS BIGINT) AS mn,
        |       CAST(max(c) AS BIGINT) AS mx
        |FROM f1 JOIN d1 ON f1.o_custkey = d1.c_custkey
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // three-way union: main's 'P' append + the branch's two deletes
    // (%9 in {0,1} of the originals) + the branch's x2-price append.
    "q187_branch_merge" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus,
        |                   CAST(o_totalprice AS DOUBLE) AS pr FROM orders),
        |final AS (
        |  SELECT o_orderstatus, pr FROM t0 WHERE o_orderkey % 9 NOT IN (0, 1)
        |  UNION ALL
        |  SELECT o_orderstatus, pr * 2 FROM t0 WHERE o_orderkey % 5 = 0
        |  UNION ALL
        |  SELECT 'P', pr FROM t0)
        |SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // evolution + migration preserve content exactly, so the key-joined
    // pair's per-status delta (2x - x) is just the original price.
    "q186_evolved_metadata_spj" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT))
        |            AS BIGINT) AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the desired state re-derived relationally: src keys carry the
    // source value (matched update or insert), by-source survivors
    // (%10=4, %3<>0) carry price 0, by-source %3=0 keys are gone.
    "q185_mor_full_sync" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                   CAST(o_totalprice AS DOUBLE) AS o_totalprice FROM orders),
        |final AS (
        |  SELECT o_orderstatus,
        |         CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 25.0
        |              ELSE o_totalprice END AS pr
        |  FROM t0 WHERE o_orderkey % 10 <> 4
        |  UNION ALL
        |  SELECT 'P', o_totalprice FROM t0 WHERE o_orderkey % 10 = 7
        |  UNION ALL
        |  SELECT o_orderstatus, CAST(0.0 AS DOUBLE)
        |  FROM t0 WHERE o_orderkey % 10 = 4 AND o_orderkey % 3 <> 0)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // both deletes re-derived relationally; meta_live is the same scalar
    // on every row (the metadata-only count taken BEFORE materialization
    // must already equal the relational live count).
    "q160_deletion_vectors" ->
      """WITH live AS (
        |  SELECT o_orderkey, o_orderstatus, CAST(o_totalprice AS DOUBLE) AS pr
        |  FROM orders
        |  WHERE o_orderkey % 7 <> 3 AND o_orderkey % 10 >= 2)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       (SELECT CAST(count(*) AS BIGINT) FROM live) AS meta_live,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM live GROUP BY 1 ORDER BY 1""".stripMargin,
    // three generations re-derived: %3=0 wrote the 0.0 price default
    // and reads the frozen bonus exists-default 5; %3=1 wrote real
    // prices pre-add (bonus 5 on read); %3=2 wrote explicit bonuses.
    "q159_column_defaults" ->
      """WITH t0 AS (SELECT o_orderkey, o_orderstatus,
        |                   CAST(o_totalprice AS DOUBLE) AS pr FROM orders),
        |final AS (
        |  SELECT o_orderstatus, 0.0 AS pr, 5 AS bonus FROM t0 WHERE o_orderkey % 3 = 0
        |  UNION ALL
        |  SELECT o_orderstatus, pr, 5 FROM t0 WHERE o_orderkey % 3 = 1
        |  UNION ALL
        |  SELECT o_orderstatus, pr, o_orderkey % 10 FROM t0 WHERE o_orderkey % 3 = 2)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(pr * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(sum(bonus) AS BIGINT) AS bonus
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // only the valid insert lands: the plain orders rollup.
    "q158_check_constraints" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the stream must land each source commit's rows exactly once =
    // the whole orders table.
    "q157_stream_to_table" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // maintenance verbs must be content-preserving: optimize+restore+
    // re-insert+vacuum land back on exactly the full orders rollup.
    "q156_sql_procedures" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(CAST(o_totalprice AS DOUBLE) * 100) AS BIGINT)) AS BIGINT)
        |         AS cents
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // the schema-evolution chain re-derived relationally: generations
    // 1-2 read NULL for the dropped-then-re-added o_note (a recycled
    // field id would leak gen-2's o_custkey back), generation 3 writes
    // it as o_custkey * 2; o_price is o_totalprice under its new name.
    "q155_schema_evolution" ->
      """WITH t0 AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |                   CAST(o_totalprice AS DOUBLE) AS o_price FROM orders),
        |final AS (
        |  SELECT o_orderstatus, o_price, CAST(NULL AS BIGINT) AS o_note
        |  FROM t0 WHERE o_orderkey % 3 IN (0, 1)
        |  UNION ALL
        |  SELECT o_orderstatus, o_price, o_custkey * 2 FROM t0 WHERE o_orderkey % 3 = 2)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_price * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       count(o_note) AS notes, CAST(sum(o_note) AS BIGINT) AS note_sum
        |FROM final GROUP BY 1 ORDER BY 1""".stripMargin,
    // v2 = the untouched initial insert; head = after the delete.
    "q150_sql_time_travel" ->
      """WITH t0 AS (SELECT o_orderkey, CAST(o_totalprice AS DOUBLE) AS o_totalprice
        |            FROM orders)
        |SELECT 'v2_preimage' AS snap, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM t0
        |UNION ALL
        |SELECT 'head_after_delete', count(*),
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM t0 WHERE o_orderkey % 3 <> 0
        |ORDER BY snap""".stripMargin,
    // OPTIMIZE must be a pure layout change: the union of the four
    // appended slices IS the whole table, and each partition ends at
    // exactly one file (pinned literal).
    "q134_lake_optimize" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       1 AS n_files
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // CDC classes re-derived relationally: one preimage (original price)
    // and one postimage (+100) per %10=0 key, one insert per %10=3 key,
    // no deletes, and no phantom rows from carried-but-rewritten
    // neighbors.
    "q135_lake_cdc" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders),
        |feed AS (
        |  SELECT 'insert' AS _change_type, o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT 'update_preimage', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 'update_postimage', o_totalprice + 100.0
        |  FROM t WHERE o_orderkey % 10 = 0)
        |SELECT _change_type, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM feed GROUP BY 1 ORDER BY 1""".stripMargin,
    // Per-commit changelog cells: v2 = the merge's three classes, v3 =
    // deletes of the odd re-keyed 'N' rows (re-keying by +1e9 preserves
    // key parity). A key appearing at BOTH v2 and v3 must show both
    // events — the walk must not net them out.
    "q137_lake_changelog" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders),
        |feed AS (
        |  SELECT 2 AS _commit_version, 'insert' AS _change_type, o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT 2, 'update_preimage', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 2, 'update_postimage', o_totalprice + 100.0
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 3, 'delete', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3 AND o_orderkey % 2 = 1)
        |SELECT _commit_version, _change_type, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM feed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // The stream committed exactly the fixture, no more and no less —
    // the oracle is a plain batch rollup of the raw events table.
    "q139_stream_lake_hourly" ->
      """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
        |       count(*) AS cnt, count(DISTINCT user_id) AS users,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY event_type, hr ORDER BY event_type, hr""".stripMargin,
    // Append mode releases exactly the windows the final watermark
    // (max ts - lateness) has passed — re-derived relationally here.
    "q140_stream_window_counts" ->
      """WITH g AS (
        |  SELECT date_trunc('hour', ts) AS h, event_type, count(*) AS cnt
        |  FROM events GROUP BY 1, 2
        |)
        |SELECT strftime(h, '%Y-%m-%d %H') AS w_start, event_type, cnt
        |FROM g
        |WHERE h + INTERVAL 1 HOUR <= (SELECT max(ts) - INTERVAL 30 MINUTE FROM events)
        |ORDER BY w_start, event_type""".stripMargin,
    // Stateless pass-through: everything the stream admitted must equal
    // the raw fixture, so the oracle is the plain batch rollup (the same
    // shape as q139's).
    "q142_avro_stream_ingest" ->
      """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
        |       count(*) AS cnt, count(DISTINCT user_id) AS users,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY event_type, hr ORDER BY event_type, hr""".stripMargin,
    // The connector's pruned scan must agree with the plain relational
    // range rollup (appended keys sit above the range), the skip flag is
    // pinned literally true, and both version row counts re-derive.
    "q143_lake_connector" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders),
        |r AS (SELECT count(*) AS cnt,
        |             CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |             min(o_orderkey) AS min_key, max(o_orderkey) AS max_key
        |      FROM t WHERE o_orderkey BETWEEN 100 AND 399)
        |SELECT cnt, cents, min_key, max_key, true AS files_skipped,
        |       (SELECT count(*) FROM t) AS v1_rows,
        |       (SELECT count(*) FROM t)
        |         + (SELECT count(*) FROM t WHERE o_orderkey % 10 = 0) AS v2_rows
        |FROM r""".stripMargin,
    // The looked-up row re-derived relationally; both pruning flags
    // pinned literally (the scatter layout defeats min/max by
    // construction, the bloom must not).
    "q145_lake_bloom_lookup" ->
      """WITH kk AS (SELECT min(o_orderkey) AS k FROM orders WHERE o_orderkey >= 100)
        |SELECT o.o_orderkey, o.o_custkey,
        |       CAST(round(o.o_totalprice * 100) AS BIGINT) AS cents,
        |       true AS stats_useless, true AS bloom_skipped
        |FROM orders o, kk WHERE o.o_orderkey = kk.k""".stripMargin,
    // The restored table == untouched orders; the corrupted version's
    // total re-derived; the head literal pins the forward commit.
    "q148_lake_restore" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |v2 AS (SELECT CAST(sum(CAST(round(
        |         (CASE WHEN o_orderkey % 10 = 0 THEN o_totalprice + 100.0
        |               ELSE o_totalprice END) * 100) AS BIGINT)) AS BIGINT) AS c
        |       FROM t)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       (SELECT c FROM v2) AS v2_cents,
        |       CAST(3 AS BIGINT) AS head_version
        |FROM t GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // The streamed change feed must equal the batch changelog walk —
    // q137's oracle verbatim (the insert of the re-keyed 'N' rows, both
    // update images for the %10=0 keys, the odd-key deletes).
    "q147_lake_stream_cdf" ->
      """WITH t AS (SELECT o_orderkey, o_totalprice FROM orders),
        |feed AS (
        |  SELECT 2 AS _commit_version, 'insert' AS _change_type, o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT 2, 'update_preimage', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 2, 'update_postimage', o_totalprice + 100.0
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT 3, 'delete', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3 AND o_orderkey % 2 = 1)
        |SELECT _commit_version, _change_type, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM feed GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // Every count re-derived relationally; from_metadata pinned TRUE.
    "q146_lake_meta_count" ->
      """SELECT o_orderstatus, count(*) AS n_meta,
        |       (SELECT count(*) FROM orders) AS total_meta,
        |       true AS from_metadata
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // The tail of four appends with the delete skipped == the raw
    // fixture, so the oracle is the plain batch rollup (q139's shape).
    "q144_lake_stream_tail" ->
      """SELECT event_type, strftime(date_trunc('hour', ts), '%Y-%m-%d %H') AS hr,
        |       count(*) AS cnt, count(DISTINCT user_id) AS users,
        |       CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM events GROUP BY event_type, hr ORDER BY event_type, hr""".stripMargin,
    // The avro write+read is transparent: the oracle is the same rollup
    // over the ORIGINAL parquet table.
    "q141_avro_roundtrip" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       count(DISTINCT o_custkey) AS custs,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(sum(epoch_us(o_orderdate) // 1000000) AS BIGINT) AS secs
        |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin,
    // Schema evolution: the merged relation with the NEW column NULL
    // everywhere the source didn't write it, folded through coalesce(-1).
    "q138_lake_evolution" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |merged AS (
        |  SELECT o_orderkey, 'F' AS o_orderstatus,
        |         o_totalprice + 100.0 AS o_totalprice,
        |         o_orderkey % 3 AS priority_flag
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey, o_orderstatus, o_totalprice, NULL
        |  FROM t WHERE o_orderkey % 10 <> 0)
        |SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(sum(coalesce(priority_flag, -1)) AS BIGINT) AS flags
        |FROM merged GROUP BY 1 ORDER BY 1""".stripMargin,
    // The skipped-files boolean is pinned to literal TRUE: stats-based
    // pruning must actually drop files for this range, and the residual
    // rollup must equal the plain filtered aggregate.
    "q136_lake_skipping" ->
      """SELECT count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       min(o_orderkey) AS min_key, max(o_orderkey) AS max_key,
        |       TRUE AS files_skipped
        |FROM orders WHERE o_orderkey BETWEEN 100 AND 399""".stripMargin,
    // DELETE complement: everything except the deleted predicate set.
    "q133_lake_delete" ->
      """SELECT o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders
        |WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0)
        |GROUP BY 1 ORDER BY 1""".stripMargin,
    // SCD2 law re-derived relationally: closed originals (not current,
    // stamp 0) + reopened at 1000 + untouched current (incl. the no-op
    // redelivery) + inserts at 1000.
    "q132_scd2" ->
      """WITH t AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders),
        |hist AS (
        |  SELECT o_orderstatus, o_totalprice, 0 AS vf, FALSE AS cur
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice + 100.0, 1000, TRUE
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice, 0, TRUE
        |  FROM t WHERE o_orderkey % 10 <> 0
        |  UNION ALL
        |  SELECT o_orderstatus, o_totalprice, 1000, TRUE
        |  FROM t WHERE o_orderkey % 10 = 3)
        |SELECT cur AS is_current, o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       CAST(sum(vf) AS BIGINT) AS sum_from
        |FROM hist GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // v1 = the raw table's rollup, v2 = the merged derivation — both
    // versions re-derived relationally and unioned.
    "q131_lake_history" ->
      """WITH t AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice FROM orders),
        |merged AS (
        |  SELECT o_orderkey, o_custkey, 'F' AS o_orderstatus,
        |         o_totalprice + 100.0 AS o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 1000000000, o_custkey, 'N', o_totalprice
        |  FROM t WHERE o_orderkey % 10 = 3
        |  UNION ALL
        |  SELECT * FROM t WHERE o_orderkey % 10 <> 0)
        |SELECT 1 AS version, o_orderstatus, count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM t GROUP BY 2
        |UNION ALL
        |SELECT 2, o_orderstatus, count(*),
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
        |FROM merged GROUP BY 2
        |ORDER BY version, o_orderstatus""".stripMargin,
    // Gaps-and-islands sessions (>= 30 min gap breaks, matching
    // session_window's exclusive end), then the same per-day rollup.
    "q129_session_conversion" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events),
        |s AS (
        |  SELECT user_id, tus, event_type,
        |         CASE WHEN lag(tus) OVER (PARTITION BY user_id ORDER BY tus) IS NULL
        |                OR tus - lag(tus) OVER (PARTITION BY user_id ORDER BY tus)
        |                   >= 1800000000 THEN 1 ELSE 0 END AS brk
        |  FROM e),
        |g AS (
        |  SELECT user_id, tus, event_type,
        |         sum(brk) OVER (PARTITION BY user_id ORDER BY tus
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sid
        |  FROM s),
        |sess AS (
        |  SELECT user_id, sid, min(tus) AS start_us,
        |         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
        |  FROM g GROUP BY 1, 2)
        |SELECT CAST(make_timestamp(start_us) AS DATE) AS d,
        |       count(*) AS sessions, CAST(sum(conv) AS BIGINT) AS converted
        |FROM sess GROUP BY 1 ORDER BY d""".stripMargin,
    "q127_mom_growth" ->
      """WITH m AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
        |  FROM lineitem GROUP BY 1)
        |SELECT month, rev_cents,
        |       lag(rev_cents) OVER (ORDER BY month) AS prev_cents,
        |       rev_cents - lag(rev_cents) OVER (ORDER BY month) AS delta_cents
        |FROM m ORDER BY month""".stripMargin,
    // Same rank/cum/boundary arithmetic, all integer.
    "q128_pareto" ->
      """WITH rev AS (
        |  SELECT l_partkey,
        |         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS rev
        |  FROM lineitem GROUP BY 1),
        |r AS (
        |  SELECT l_partkey, rev,
        |         row_number() OVER (ORDER BY rev DESC, l_partkey) AS rn,
        |         sum(rev) OVER (ORDER BY rev DESC, l_partkey
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
        |  FROM rev),
        |t AS (SELECT max(rn) AS n_parts, max(cum) AS total_rev FROM r),
        |d AS (SELECT * FROM range(1, 11) tt(decile))
        |SELECT d.decile, r.rn AS parts,
        |       CAST((r.cum * 1000) // t.total_rev AS BIGINT) AS share_permille
        |FROM r, t, d WHERE r.rn = (d.decile * t.n_parts) // 10
        |ORDER BY d.decile""".stripMargin,
    // Sliding distinct re-derived the straightforward way: day grid ×
    // activity join, exact COUNT(DISTINCT) per window.
    "q125_rolling_active" ->
      """WITH act AS (SELECT DISTINCT CAST(ts AS DATE) AS d, user_id FROM events),
        |days AS (SELECT DISTINCT d AS rd FROM act)
        |SELECT dy.rd AS rd, count(DISTINCT a.user_id) AS active_7d
        |FROM days dy JOIN act a ON a.d BETWEEN dy.rd - 6 AND dy.rd
        |GROUP BY 1 ORDER BY rd""".stripMargin,
    // Same lag formulation, then the q116 bucket map + rank walk over
    // one global group.
    "q126_gap_quantiles" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus,
        |         lag(epoch_us(ts)) OVER (PARTITION BY user_id
        |           ORDER BY epoch_us(ts), event_id) AS ptus
        |  FROM events),
        |g AS (SELECT tus - ptus AS c FROM e WHERE ptus IS NOT NULL),
        |b AS (
        |  SELECT CASE WHEN length(bin(c)) - 1 <= 5 THEN c
        |              ELSE (CAST(length(bin(c)) - 1 - 5 AS BIGINT) << 5)
        |                   + (c >> (length(bin(c)) - 1 - 5)) END AS hb,
        |         count(*) AS cnt
        |  FROM g GROUP BY 1),
        |cum AS (SELECT hb, sum(cnt) OVER (ORDER BY hb) AS cum, sum(cnt) OVER () AS n FROM b),
        |lo AS (
        |  SELECT cum, n,
        |         CASE WHEN (hb >> 5) <= 1 THEN hb
        |              ELSE (hb - ((hb >> 5) - 1) * 32) << ((hb >> 5) - 1) END AS lo
        |  FROM cum)
        |SELECT CAST(max(n) AS BIGINT) AS n_total,
        |       min(CASE WHEN cum * 100 >= n * 50 THEN lo END) AS p_50_100,
        |       min(CASE WHEN cum * 100 >= n * 95 THEN lo END) AS p_95_100,
        |       min(CASE WHEN cum * 100 >= n * 99 THEN lo END) AS p_99_100
        |FROM lo""".stripMargin,
    // Same bucket map as q116, strictly-below CDF, integer decile.
    "q123_pct_rank" ->
      """WITH v AS (
        |  SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS c FROM lineitem),
        |b AS (
        |  SELECT CASE WHEN length(bin(c)) - 1 <= 5 THEN c
        |              ELSE (CAST(length(bin(c)) - 1 - 5 AS BIGINT) << 5)
        |                   + (c >> (length(bin(c)) - 1 - 5)) END AS hb,
        |         count(*) AS cnt
        |  FROM v GROUP BY 1),
        |cdf AS (
        |  SELECT hb,
        |         coalesce(sum(cnt) OVER (ORDER BY hb
        |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS below,
        |         sum(cnt) OVER () AS n,
        |         cnt
        |  FROM b)
        |SELECT CAST((below * 10) // n AS BIGINT) AS decile,
        |       CAST(sum(cnt) AS BIGINT) AS cnt
        |FROM cdf GROUP BY 1 ORDER BY decile""".stripMargin,
    "q124_transitions" ->
      """WITH e AS (
        |  SELECT user_id, epoch_us(ts) AS tus, event_id, event_type,
        |         lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_us(ts), event_id) AS prev
        |  FROM events)
        |SELECT prev, event_type AS next, count(*) AS cnt
        |FROM e WHERE prev IS NOT NULL
        |GROUP BY 1, 2 ORDER BY prev, next""".stripMargin,
    // Same staged min-timestamp formulation; epoch_us == Spark's
    // `ts div 1000` on the nanos-as-long fixture.
    "q121_funnel" ->
      """WITH e AS (SELECT user_id, epoch_us(ts) AS tus, event_type FROM events),
        |s1 AS (SELECT user_id, min(tus) AS t1 FROM e
        |       WHERE event_type = 'view' GROUP BY 1),
        |s2 AS (SELECT e.user_id, min(tus) AS t2 FROM e JOIN s1 USING (user_id)
        |       WHERE event_type = 'click' AND tus > t1 GROUP BY 1),
        |s3 AS (SELECT e.user_id, min(tus) AS t3 FROM e JOIN s2 USING (user_id)
        |       WHERE event_type = 'purchase' AND tus > t2 GROUP BY 1)
        |SELECT (SELECT count(*) FROM s1) AS stage_view,
        |       (SELECT count(*) FROM s2) AS stage_click,
        |       (SELECT count(*) FROM s3) AS stage_purchase""".stripMargin,
    "q122_retention" ->
      """WITH act AS (SELECT DISTINCT user_id, CAST(ts AS DATE) AS d FROM events),
        |f AS (SELECT user_id, min(d) AS f FROM act GROUP BY 1)
        |SELECT f.f AS f, date_diff('day', f.f, a.d) AS k,
        |       count(DISTINCT a.user_id) AS users
        |FROM act a JOIN f USING (user_id)
        |WHERE date_diff('day', f.f, a.d) <= 7
        |GROUP BY 1, 2 ORDER BY f, k""".stripMargin,
    // Plain COUNT(DISTINCT) — the bitmap path must reproduce it exactly.
    "q119_bitmap_rollup" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       count(DISTINCT o_custkey) AS exact_distinct
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    // One SELECT per profiled column, UNION ALL — the report the one-pass
    // profiler must reproduce bit-for-bit (counts are BIGINT, min/max are
    // the VARCHAR rendering, total_bytes the summed rendered length).
    "q114_profile" -> {
      def one(c: String) =
        s"""SELECT '$c' AS col_name, count(*) AS n_rows,
           |       count(*) FILTER (WHERE $c IS NULL) AS n_null,
           |       count(DISTINCT $c) AS n_distinct,
           |       min(CAST($c AS VARCHAR)) AS min_val,
           |       max(CAST($c AS VARCHAR)) AS max_val,
           |       CAST(coalesce(sum(length(CAST($c AS VARCHAR))), 0) AS BIGINT) AS total_bytes
           |FROM src""".stripMargin
      "WITH src AS (SELECT o_orderkey, o_custkey, o_orderstatus, " +
        "CAST(o_orderdate AS DATE) AS o_orderdate, o_orderpriority FROM orders)\n" +
        Seq("o_orderkey", "o_custkey", "o_orderstatus", "o_orderdate", "o_orderpriority")
          .map(one).mkString("", "\nUNION ALL\n", "\nORDER BY col_name")
    },
    // Full re-derivation of the HDR bucket map (floor-log2 = minimal
    // binary-string length, integer shifts) and the division-free rank
    // walk — every quantile must match bit-for-bit.
    "q116_hist_quantiles" ->
      """WITH v AS (
        |  SELECT CAST(date_trunc('month', l_shipdate) AS DATE) AS month,
        |         CAST(round(l_extendedprice * 100) AS BIGINT) AS c
        |  FROM lineitem),
        |b AS (
        |  SELECT month,
        |         CASE WHEN length(bin(c)) - 1 <= 5 THEN c
        |              ELSE (CAST(length(bin(c)) - 1 - 5 AS BIGINT) << 5)
        |                   + (c >> (length(bin(c)) - 1 - 5)) END AS hb,
        |         count(*) AS cnt
        |  FROM v GROUP BY 1, 2),
        |cum AS (
        |  SELECT month, hb, cnt,
        |         sum(cnt) OVER (PARTITION BY month ORDER BY hb) AS cum,
        |         sum(cnt) OVER (PARTITION BY month) AS n
        |  FROM b),
        |lo AS (
        |  SELECT month, n, cum,
        |         CASE WHEN (hb >> 5) <= 1 THEN hb
        |              ELSE (hb - ((hb >> 5) - 1) * 32) << ((hb >> 5) - 1) END AS lo
        |  FROM cum)
        |SELECT month, CAST(max(n) AS BIGINT) AS n_total,
        |       min(CASE WHEN cum * 100 >= n * 50 THEN lo END) AS p_50_100,
        |       min(CASE WHEN cum * 100 >= n * 95 THEN lo END) AS p_95_100,
        |       min(CASE WHEN cum * 100 >= n * 99 THEN lo END) AS p_99_100
        |FROM lo GROUP BY month ORDER BY month""".stripMargin,
    // The oracle can't reproduce Datasketches registers, so it asserts
    // the contracts: exact counts must match, and both booleans must be
    // literally true on every row for the hash to match.
    "q112_sketch_rollup" ->
      """SELECT CAST(date_trunc('month', o_orderdate) AS DATE) AS month,
        |       count(DISTINCT o_custkey) AS exact_cnt,
        |       true AS merge_invariant,
        |       true AS within_5pct
        |FROM orders GROUP BY 1 ORDER BY month""".stripMargin,
    "q34_setops" ->
      """SELECT 'both' AS tag, k FROM
        |  (SELECT c_custkey AS k FROM customer INTERSECT SELECT s_suppkey FROM supplier)
        |UNION ALL
        |SELECT 'cust_only' AS tag, k FROM
        |  (SELECT c_custkey AS k FROM customer EXCEPT SELECT s_suppkey FROM supplier)
        |ORDER BY tag, k""".stripMargin,
    "q35_asof" ->
      """WITH p AS (SELECT event_id AS pid, user_id, ts FROM events
        |           WHERE event_type = 'purchase'),
        |     c0 AS (SELECT user_id, ts, max(event_id) AS cid FROM events
        |            WHERE event_type = 'click' GROUP BY user_id, ts)
        |SELECT p.pid, c.cid FROM p
        |ASOF JOIN c0 c ON p.user_id = c.user_id AND p.ts >= c.ts
        |ORDER BY pid""".stripMargin,
    "q41_json" ->
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(props->>'k' AS INTEGER)) AS BIGINT) AS sum_k,
        |       max(CAST(props->>'k' AS INTEGER)) AS max_k
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    "q42_pivot" ->
      """SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |       CAST(count(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS BIGINT) AS p1_urgent,
        |       CAST(count(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS BIGINT) AS p2_high,
        |       CAST(count(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS BIGINT) AS p3_medium,
        |       CAST(count(*) FILTER (WHERE o_orderpriority = '4-NOT SPECIFIED') AS BIGINT) AS p4_not_specified,
        |       CAST(count(*) FILTER (WHERE o_orderpriority = '5-LOW') AS BIGINT) AS p5_low
        |FROM orders GROUP BY yr ORDER BY yr""".stripMargin,
    "q40_sessionize" ->
      """WITH e AS (
        |  SELECT user_id, ts,
        |         CASE WHEN lag(ts) OVER w IS NULL
        |                OR ts - lag(ts) OVER w > INTERVAL 30 MINUTE THEN 1 ELSE 0 END AS brk
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
        |s AS (SELECT user_id, ts, sum(brk) OVER (PARTITION BY user_id ORDER BY ts) AS sess
        |      FROM e)
        |SELECT user_id, epoch_us(min(ts)) AS session_start_us, count(*) AS n_events
        |FROM s GROUP BY user_id, sess ORDER BY user_id, session_start_us""".stripMargin,
    "q39_part_revenue" ->
      """SELECT p_brand, count(*) AS line_cnt,
        |       CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
        |       CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100) AS BIGINT))
        |            AS BIGINT) AS revenue_cents
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q38_range_join" ->
      """WITH e AS (SELECT event_id, epoch_us(ts) AS tus, event_type FROM events),
        |     p AS (SELECT event_id AS pid, tus AS ptus FROM e
        |           WHERE event_type = 'purchase')
        |SELECT p.pid, count(*) AS cnt FROM p
        |JOIN e ON e.tus BETWEEN p.ptus - 60000000 AND p.ptus
        |GROUP BY p.pid ORDER BY p.pid""".stripMargin,
    "q36_topk" ->
      """SELECT o_orderpriority, o_orderkey,
        |       CAST(round(o_totalprice * 100) AS BIGINT) AS price_cents
        |FROM orders
        |QUALIFY row_number() OVER (
        |  PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) <= 3
        |ORDER BY o_orderpriority, price_cents DESC, o_orderkey""".stripMargin,
    "q47_cube" ->
      """SELECT coalesce(o_orderstatus, 'ALL') AS status,
        |       coalesce(o_orderpriority, 'ALL') AS prio,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)
        |ORDER BY status, prio""".stripMargin,
    "q48_percentiles" ->
      """SELECT l_returnflag,
        |       round(quantile_cont(l_quantity, 0.25), 6) AS p25_qty,
        |       round(quantile_cont(l_quantity, 0.5), 6) AS p50_qty,
        |       round(quantile_cont(l_quantity, 0.75), 6) AS p75_qty,
        |       round(quantile_cont(l_extendedprice, 0.9), 6) AS p90_price
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q49_lead_lag" ->
      """SELECT o_custkey, o_orderkey,
        |       CAST(date_diff('day', CAST(lag(o_orderdate) OVER w AS DATE),
        |                      CAST(o_orderdate AS DATE)) AS INTEGER) AS gap_days,
        |       CAST(round(o_totalprice * 100) AS BIGINT)
        |         - lag(CAST(round(o_totalprice * 100) AS BIGINT)) OVER w AS delta_cents
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q50_above_avg" ->
      """SELECT o_orderpriority, count(*) AS cnt
        |FROM orders
        |WHERE round(o_totalprice * 100) >
        |      (SELECT avg(round(o_totalprice * 100)) FROM orders)
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q51_regex" ->
      """SELECT regexp_extract(p_name, '^(\w+)', 1) AS first_word,
        |       count(*) AS cnt, count(DISTINCT p_brand) AS brands
        |FROM part GROUP BY first_word ORDER BY first_word""".stripMargin,
    "q62_resample" ->
      """WITH obs AS (
        |  SELECT user_id, epoch_us(ts) AS tus, max(value) AS v
        |  FROM events WHERE event_type = 'purchase' GROUP BY user_id, tus),
        |b AS (SELECT user_id, min(tus) AS lo, max(tus) AS hi FROM obs GROUP BY user_id),
        |grid AS (
        |  SELECT user_id,
        |         unnest(range(((lo + 86399999999) // 86400000000) * 86400000000,
        |                      hi + 1, 86400000000)) AS grid_ts
        |  FROM b)
        |SELECT g.user_id AS user_id, g.grid_ts AS grid_ts, o.v AS v
        |FROM grid g
        |ASOF JOIN obs o ON g.user_id = o.user_id AND g.grid_ts >= o.tus
        |ORDER BY user_id, grid_ts""".stripMargin,
    "q61_unpivot" ->
      """WITH yrs AS (SELECT DISTINCT CAST(year(o_orderdate) AS INTEGER) AS yr FROM orders),
        |p(prio) AS (VALUES ('p1_urgent'), ('p2_high'), ('p3_medium'),
        |                   ('p4_not_specified'), ('p5_low')),
        |cnts AS (
        |  SELECT CAST(year(o_orderdate) AS INTEGER) AS yr,
        |         CASE o_orderpriority
        |           WHEN '1-URGENT' THEN 'p1_urgent'
        |           WHEN '2-HIGH' THEN 'p2_high'
        |           WHEN '3-MEDIUM' THEN 'p3_medium'
        |           WHEN '4-NOT SPECIFIED' THEN 'p4_not_specified'
        |           ELSE 'p5_low' END AS prio,
        |         count(*) AS c
        |  FROM orders GROUP BY 1, 2)
        |SELECT yrs.yr AS yr, p.prio AS prio, CAST(coalesce(c, 0) AS BIGINT) AS cnt
        |FROM yrs CROSS JOIN p
        |LEFT JOIN cnts ON cnts.yr = yrs.yr AND cnts.prio = p.prio
        |ORDER BY yrs.yr, p.prio""".stripMargin,
    "q60_profile" ->
      """SELECT count(*) AS rows,
        |       count(DISTINCT l_partkey) AS d_part,
        |       count(DISTINCT l_suppkey) AS d_supp,
        |       count(DISTINCT l_returnflag) AS d_flag,
        |       CAST(sum(CASE WHEN l_partkey IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_part,
        |       min(l_quantity) AS min_qty,
        |       max(l_quantity) AS max_qty
        |FROM lineitem""".stripMargin,
    "q59_maptype" ->
      """WITH kv AS (
        |  SELECT unnest(json_keys(props)) AS key, props FROM events)
        |SELECT key, count(*) AS cnt,
        |       CAST(sum(CAST(json_extract(props, '$.' || key) AS INTEGER)) AS BIGINT) AS sum_v,
        |       min(CAST(json_extract(props, '$.' || key) AS INTEGER)) AS min_v,
        |       max(CAST(json_extract(props, '$.' || key) AS INTEGER)) AS max_v
        |FROM kv GROUP BY key ORDER BY key""".stripMargin,
    "q81_grouping_sets" ->
      """SELECT coalesce(l_returnflag,'ALL') AS rf, coalesce(l_linestatus,'ALL') AS ls,
        |       coalesce(CAST(year(l_shipdate) AS INT), -1) AS ship_year,
        |       CAST(grouping(l_returnflag, l_linestatus, year(l_shipdate)) AS BIGINT) AS gid,
        |       count(*) AS cnt,
        |       CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS qty
        |FROM lineitem
        |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag),
        |                        (year(l_shipdate)))
        |ORDER BY gid, rf, ls, ship_year""".stripMargin,
    "q82_recursive_cummonth" ->
      """WITH RECURSIVE cum AS (
        |  SELECT m, rev_e4, rev_e4 AS cum_e4
        |  FROM (SELECT CAST(month(o_orderdate) AS INT) AS m,
        |               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_e4
        |        FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |          AND o_orderdate <  TIMESTAMP '1998-01-01'
        |        GROUP BY 1)
        |  WHERE m = 1
        |  UNION ALL
        |  SELECT mo.m, mo.rev_e4, cum.cum_e4 + mo.rev_e4
        |  FROM cum
        |  JOIN (SELECT CAST(month(o_orderdate) AS INT) AS m,
        |               CAST(sum(CAST(round(o_totalprice*100) AS BIGINT)) AS BIGINT) AS rev_e4
        |        FROM orders
        |        WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |          AND o_orderdate <  TIMESTAMP '1998-01-01'
        |        GROUP BY 1) mo ON mo.m = cum.m + 1
        |)
        |SELECT m, rev_e4, cum_e4 FROM cum ORDER BY m""".stripMargin,
    "q83_lateral_top2" ->
      """SELECT r_name, s_name, acctbal_cents
        |FROM region r
        |JOIN LATERAL (
        |  SELECT s_name, CAST(round(s_acctbal*100) AS BIGINT) AS acctbal_cents
        |  FROM supplier s
        |  JOIN nation n ON s.s_nationkey = n.n_nationkey
        |  WHERE n.n_regionkey = r.r_regionkey
        |  ORDER BY s_acctbal DESC, s_name
        |  LIMIT 2
        |) t ON TRUE
        |ORDER BY r_name, acctbal_cents DESC, s_name""".stripMargin,
    "q84_variant" ->
      """SELECT event_type, count(*) AS cnt,
        |       CAST(sum(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
        |       min(CAST(json_extract(props, '$.k') AS BIGINT)) AS min_k,
        |       max(CAST(json_extract(props, '$.k') AS BIGINT)) AS max_k
        |FROM events
        |GROUP BY event_type
        |ORDER BY event_type""".stripMargin
  )
}
