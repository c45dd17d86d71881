package graft

import java.nio.file.Files

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}

import graft.operators.LakeTable

/** The `graft-lake` DataSource face: manifest-pruned batch scans (files
  * skipped at PLANNING time from the manifest, pinned via the executed
  * scan's numFiles metric), snapshot-derived statistics driving
  * broadcast planning, SaveMode write mapping, the SQL DDL face, and
  * the version-offset streaming source (append tailing, restart
  * resume, change-commit refusal / skipChangeCommits).
  */
class GraftLakeSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft-lake-$name").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/t"
  }

  /** Distinct data files the executed scan actually read (post-pruning).
    * The path face reads through DSv2 only, so the scan is a BatchScanExec
    * over file partitions; a plan without one fails the assertion below.
    */
  private def scannedFiles(df: DataFrame): Long = {
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.datasources.v2.BatchScanExec] = p match {
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        unwrap(a.executedPlan)
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec => Seq(b)
      case other => other.children.flatMap(unwrap)
    }
    val scans = unwrap(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no file scan in executed plan")
    scans.map { b =>
      b.inputRDD.partitions.toSeq.collect {
        case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
          p.inputPartitions.collect {
            case f: org.apache.spark.sql.execution.datasources.FilePartition =>
              f.files.map(_.urlEncodedPath).toSeq
          }.flatten
      }.flatten.distinct.size.toLong
    }.sum
  }

  /** Every message down an exception's cause chain, one per line. */
  private def causes(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null).map(_.getMessage).mkString("\n")

  /** A 3-partition, stats-tracked table with one file per key bucket:
    * 300 rows, k in [0,300), partition p = k/100, stats on k.
    */
  private def mkTable(root: String): Unit = {
    val df = spark.range(300).select(
      col("id").as("k"),
      (col("id") / 100).cast("int").as("p"),
      concat(lit("v"), col("id")).as("v"))
    df.write.format("graft-lake")
      .option("partitionCol", "p").option("statsCols", "k")
      .save(root)
  }

  test("batch round trip, append, overwrite, versionAsOf, ErrorIfExists") {
    val root = tmp("modes")
    mkTable(root)
    val r1 = spark.read.format("graft-lake").load(root)
    assert(r1.count() === 300)
    assert(r1.columns.toSeq === Seq("k", "p", "v"))

    // append (v2): 10 more rows in partition 9
    spark.range(10).select(
      (col("id") + 1000).as("k"), lit(9).as("p"), lit("x").as("v"))
      .write.format("graft-lake").mode("append").save(root)
    assert(spark.read.format("graft-lake").load(root).count() === 310)

    // overwrite (v3): full replace
    Seq((1L, 0, "only")).toDF("k", "p", "v")
      .write.format("graft-lake").mode("overwrite").save(root)
    assert(spark.read.format("graft-lake").load(root).count() === 1)

    // time travel through the reader option
    assert(spark.read.format("graft-lake").option("versionAsOf", 1).load(root).count() === 300)
    assert(spark.read.format("graft-lake").option("versionAsOf", 2).load(root).count() === 310)

    intercept[Exception] {
      Seq((1L, 0, "z")).toDF("k", "p", "v")
        .write.format("graft-lake").mode("errorifexists").save(root)
    }
    // Ignore on an existing table: no-op
    Seq((1L, 0, "z")).toDF("k", "p", "v")
      .write.format("graft-lake").mode("ignore").save(root)
    assert(spark.read.format("graft-lake").load(root).count() === 1)
  }

  test("partition and stats predicates prune files at planning; results stay exact") {
    val root = tmp("prune")
    mkTable(root)
    val total = LakeTable.snapshot(spark, root).entries.size.toLong
    assert(total >= 3, s"expected >=3 files, got $total")
    val lake = spark.read.format("graft-lake").load(root)

    // partition equality: only partition 1's files scanned
    val byPart = lake.where(col("p") === 1)
    assert(scannedFiles(byPart) < total)
    assert(byPart.count() === 100)

    // stats range on k: files whose [min,max] misses [0,49] skipped
    val byRange = lake.where(col("k") < 50)
    assert(scannedFiles(byRange) < total)
    assert(byRange.count() === 50)

    // IN on the partition column
    val byIn = lake.where(col("p").isin(0, 2))
    assert(scannedFiles(byIn) < total)
    assert(byIn.count() === 200)

    // a predicate on a non-stats column prunes nothing (conservative)
    val noPrune = lake.where(col("v") === "v7")
    assert(scannedFiles(noPrune) === total)
    assert(noPrune.count() === 1)

    // result identical to the unpruned path
    val expect = LakeTable.read(spark, root).where(col("k") < 50)
      .orderBy("k").collect().toSeq
    assert(byRange.orderBy("k").collect().toSeq === expect)
  }

  test("float partition equality: p === -0.0 matches the 0.0 partition (value-space pruning)") {
    // regression (round-15 advice): the stored partition value renders
    // "0.0" while a pushed -0.0 literal renders "-0.0"; rendered-string
    // set membership would skip the file even though Spark equality holds
    // (-0.0 == 0.0). eqPred must compare in value space.
    val root = tmp("negzero")
    Seq((1L, 0.0d, "a"), (2L, 1.5d, "b")).toDF("k", "p", "v")
      .write.format("graft-lake").option("partitionCol", "p").save(root)
    val lake = spark.read.format("graft-lake").load(root)
    val got = lake.where(col("p") === lit(-0.0d))
    assert(got.select("k").as[Long].collect().toSet === Set(1L),
      "-0.0 equality must not prune the 0.0 partition's file")
    // and the pruning itself still works in value space
    assert(scannedFiles(lake.where(col("p") === lit(1.5d))) === 1L)
  }

  test("null partition: IS NULL selects only the sentinel files, IS NOT NULL skips them") {
    val root = tmp("nulls")
    val df = Seq[(Long, Option[Int], String)](
      (1L, Some(0), "a"), (2L, Some(1), "b"), (3L, None, "c"), (4L, None, "d"))
      .toDF("k", "p", "v")
    df.write.format("graft-lake").option("partitionCol", "p").save(root)
    val total = LakeTable.snapshot(spark, root).entries.size.toLong
    val lake = spark.read.format("graft-lake").load(root)

    val nulls = lake.where(col("p").isNull)
    assert(scannedFiles(nulls) < total)
    assert(nulls.count() === 2)

    val notNulls = lake.where(col("p").isNotNull)
    assert(scannedFiles(notNulls) < total)
    assert(notNulls.count() === 2)

    val eq = lake.where(col("p") === 1)
    assert(scannedFiles(eq) < total) // sentinel + partition-0 files skipped
    assert(eq.count() === 1)
  }

  test("manifest statistics make a small lake table broadcastable without a hint") {
    val root = tmp("stats")
    mkTable(root)
    val lake = spark.read.format("graft-lake").load(root)
    val big = spark.range(100000).select(pmod(col("id"), lit(300)).as("k"))
    val j = big.join(lake, "k")
    val plan = j.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"expected snapshot-size statistics to drive a broadcast join:\n$plan")
    assert(j.count() === 100000)
  }

  test("SQL DDL face: CREATE TABLE USING graft-lake, SELECT with pruning") {
    val root = tmp("ddl")
    mkTable(root)
    spark.sql("DROP TABLE IF EXISTS lake_ddl")
    spark.sql(s"CREATE TABLE lake_ddl USING `graft-lake` OPTIONS (path '$root')")
    try {
      val out = spark.sql("SELECT p, count(*) AS n FROM lake_ddl WHERE k < 150 GROUP BY p ORDER BY p")
      assert(out.collect().toSeq === Seq(Row(0, 100L), Row(1, 50L)))
    } finally spark.sql("DROP TABLE IF EXISTS lake_ddl")
  }

  test("streaming source tails appends with version offsets; restart resumes, replay-free") {
    val root = tmp("stream")
    val base = root.stripSuffix("/t")
    mkTable(root) // v1: 300 rows
    spark.range(5).select((col("id") + 500).as("k"), lit(1).as("p"), lit("s1").as("v"))
      .write.format("graft-lake").mode("append").save(root) // v2

    val out = s"$base/out"
    val ckpt = s"$base/ckpt"
    def drain(): Unit = {
      val q = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(out).count() === 305) // initial snapshot + append

    // nothing new: a re-run delivers nothing (offset already at v2)
    drain()
    assert(spark.read.parquet(out).count() === 305)

    // two more appends land exactly once after restart from checkpoint
    spark.range(7).select((col("id") + 600).as("k"), lit(2).as("p"), lit("s2").as("v"))
      .write.format("graft-lake").mode("append").save(root) // v3
    spark.range(3).select((col("id") + 700).as("k"), lit(0).as("p"), lit("s3").as("v"))
      .write.format("graft-lake").mode("append").save(root) // v4
    drain()
    val rows = spark.read.parquet(out)
    assert(rows.count() === 315)
    assert(rows.select(countDistinct("k")).head.getLong(0) === 315) // no replays
  }

  test("streaming: a change commit fails crisply; skipChangeCommits skips it wholly") {
    val root = tmp("cdc")
    val base = root.stripSuffix("/t")
    mkTable(root) // v1
    // v2: a MERGE rewrites files (update k=5's value)
    LakeTable.merge(spark, root,
      Seq((5L, 0, "updated")).toDF("k", "p", "v"), Seq("k"), "p")
    // v3: a clean append after the change commit
    spark.range(4).select((col("id") + 800).as("k"), lit(2).as("p"), lit("post").as("v"))
      .write.format("graft-lake").mode("append").save(root)

    val strict = intercept[StreamingQueryException] {
      val q = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("parquet")
        .option("path", s"$base/strict-out")
        .option("checkpointLocation", s"$base/strict-ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    assert(strict.getMessage.contains("skipChangeCommits") ||
      Option(strict.getCause).exists(_.getMessage.contains("skipChangeCommits")))

    val q = spark.readStream.format("graft-lake")
      .option("skipChangeCommits", "true").load(root)
      .writeStream.format("parquet")
      .option("path", s"$base/skip-out")
      .option("checkpointLocation", s"$base/skip-ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$base/skip-out")
    // v1's 300 original rows + v3's 4; v2's rewrite invisible (its rows
    // streamed at v1 with their ORIGINAL values)
    assert(got.count() === 304)
    assert(got.where(col("v") === "updated").count() === 0)
    assert(got.where(col("v") === "post").count() === 4)
  }

  test("bloom sidecars skip files on point lookups where min/max cannot prune") {
    val root = tmp("bloom")
    // scatter layout: p = id % 8, so EVERY file's k range spans the whole
    // domain — min/max stats are useless for a point probe, blooms are not
    val df = spark.range(4000).select(
      col("id").as("k"),
      pmod(col("id"), lit(8)).cast("int").as("p"),
      concat(lit("u"), col("id")).as("u"))
    LakeTable.init(spark, root, df, "p", statsCol = Some("k"), bloomCols = Seq("k", "u"))
    val snap = LakeTable.snapshot(spark, root)
    val total = snap.entries.size
    assert(total >= 8)

    // stats pruning really is useless here (control)
    def pruned(p: Column) =
      snap.entries.filter(LakeTable.predicateFilePruner(spark, root, snap.meta.get, p))
    assert(pruned(col("k").between(1234, 1234)).size === total)

    // bloom pruning on the long key and the string id
    val keptK = pruned(col("k") === 1234L)
    assert(keptK.size < total, s"bloom should skip files: kept ${keptK.size} of $total")
    val keptU = pruned(col("u") === "u1234")
    assert(keptU.size < total)

    // exactness: present and absent keys
    val hit = LakeTable.readPoint(spark, root, "u", "u1234").collect()
    assert(hit.length === 1 && hit.head.getLong(0) === 1234L)
    assert(LakeTable.readPoint(spark, root, "k", 999999L).count() === 0)
    // external Int value probes a LongType bloom correctly (cast path)
    assert(LakeTable.readPoint(spark, root, "k", 1234).count() === 1)

    // appended batches get their own sidecars
    spark.range(5).select((col("id") + 10000).as("k"),
      pmod(col("id"), lit(8)).cast("int").as("p"), concat(lit("u"), col("id") + 10000).as("u"))
      .write.format("graft-lake").mode("append").save(root)
    assert(LakeTable.readPoint(spark, root, "k", 10003L).count() === 1)

    // the connector consults blooms for pushed-down equality/IN
    val lake = spark.read.format("graft-lake").load(root)
    val eq = lake.where(col("u") === "u1234")
    assert(scannedFiles(eq) < total + 8)
    assert(eq.count() === 1)
    val in = lake.where(col("k").isin(1234L, 10003L))
    assert(scannedFiles(in) < total + 8)
    assert(in.count() === 2)
    // connector equality result equals the plain filtered read
    assert(lake.where(col("k") === 1234L).collect().toSeq ===
      LakeTable.read(spark, root).where(col("k") === 1234L).collect().toSeq)
  }

  test("merge and delete probes are bloom-pruned on an unclustered key layout") {
    val root = tmp("bloomprobe")
    // scatter layout again: min/max on k is useless, only blooms can
    // narrow the probe
    val df = spark.range(4000).select(
      col("id").as("k"),
      pmod(col("id"), lit(8)).cast("int").as("p"),
      concat(lit("v"), col("id")).as("v"))
    LakeTable.init(spark, root, df, "p", statsCol = Some("k"), bloomCols = Seq("k"))
    val total = LakeTable.snapshot(spark, root).entries.size

    // narrow merge: 2 keys -> the probe must not read all files
    val src = Seq((77L, 1, "upd77"), (1234L, 2, "upd1234")).toDF("k", "p", "v")
    val stats = LakeTable.merge(spark, root, src, Seq("k"), "p")
    assert(stats.filesProbed < total,
      s"bloom probe should prune: probed ${stats.filesProbed} of $total")
    val after = LakeTable.read(spark, root)
    assert(after.count() === 4000)
    assert(after.where(col("k") === 77L).select("v").head.getString(0) === "upd77")
    assert(after.where(col("k") === 1234L).select("v").head.getString(0) === "upd1234")
    assert(after.where(col("v").startsWith("upd")).count() === 2)

    // point delete on the bloom column: probe pruned, row gone, rest intact
    val total2 = LakeTable.snapshot(spark, root).entries.size
    val del = LakeTable.delete(spark, root, col("k") === 2222L, "p")
    assert(del.filesProbed < total2,
      s"bloom delete probe should prune: probed ${del.filesProbed} of $total2")
    val fin = LakeTable.read(spark, root)
    assert(fin.count() === 3999)
    assert(fin.where(col("k") === 2222L).count() === 0)
  }

  test("manifest row counts round-trip by cell parity; legacy lines read as None") {
    import org.apache.spark.sql.types.StructType
    val meta = LakeTable.TableMeta(
      StructType.fromDDL("k BIGINT, p STRING"), "p", Seq("k"))
    val withRows = LakeTable.Entry("a", "data/b1/f1.parquet", Seq((Some("1"), Some("9"))), Some(42L))
    val noRows = LakeTable.Entry("b", "data/b1/f2.parquet", Seq((None, None)))
    val (_, es) = LakeTable.parseManifest(LakeTable.renderManifest(meta, Seq(withRows, noRows)))
    assert(es === Seq(withRows, noRows))
    // no stats columns: the count cell stands alone after (part, rel)
    val meta0 = LakeTable.TableMeta(StructType.fromDDL("k BIGINT, p STRING"), "p", Nil)
    val e0 = LakeTable.Entry("c", "data/b2/f.parquet", Nil, Some(7L))
    val (_, es0) = LakeTable.parseManifest(LakeTable.renderManifest(meta0, Seq(e0)))
    assert(es0 === Seq(e0))
    // the byte length rides inside the count cell (`rows:bytes`); a
    // rows-only cell (pre-length manifest) parses as bytes=None
    val full = LakeTable.Entry("d", "data/b3/f.parquet", Seq((Some("1"), Some("9"))),
      Some(42L), Some(123456L))
    val (_, esF) = LakeTable.parseManifest(LakeTable.renderManifest(meta, Seq(full)))
    assert(esF === Seq(full))
    // rows unknown but length known (`_:bytes`): the length must survive
    // a render/parse round-trip, or re-rendered manifests would silently
    // lose the zero-fs-call planning guarantee for that entry
    val lenOnly = LakeTable.Entry("e", "data/b3/g.parquet", Seq((None, None)),
      None, Some(777L))
    val (_, esL) = LakeTable.parseManifest(LakeTable.renderManifest(meta, Seq(lenOnly)))
    assert(esL === Seq(lenOnly))
  }

  test("planning is metadata-only: zero filesystem status calls on a length-recorded manifest") {
    val root = tmp("metaplan")
    mkTable(root)
    val idx = graft.sources.lake.LakeFileIndex(spark, root, None)
    val dirs = idx.listFiles(Nil, Nil)
    val size = idx.sizeInBytes
    assert(idx.fsStatusLookups === 0,
      s"plan-time FileStatus must come from the manifest alone, made ${idx.fsStatusLookups} fs calls")
    // synthesized statuses carry the TRUE lengths (split planning depends on it)
    def walk(d: java.io.File): Seq[java.io.File] =
      if (d.isFile) Seq(d)
      else Option(d.listFiles).toSeq.flatten.flatMap(walk)
    // key by partitionDir/name — one task writes the SAME part file name
    // into several partition dirs
    val realByName = walk(new java.io.File(new java.io.File(new java.net.URI(s"file:$root")), "data"))
      .filter(f => f.getName.endsWith(".parquet"))
      .map(f => s"${f.getParentFile.getName}/${f.getName}" -> f.length).toMap
    dirs.flatMap(_.files).foreach { st =>
      val key = s"${st.getPath.getParent.getName}/${st.getPath.getName}"
      assert(st.getLen === realByName(key), s"synthesized length drifted for $key")
    }
    assert(size === realByName.values.sum)
    // a LEGACY (pre-length) manifest still plans — one getFileStatus per
    // entry, no recursive listing — and scans correctly
    val snap = LakeTable.snapshot(spark, root)
    val legacy = new graft.sources.lake.LakeFileIndex(
      spark, root, snap.meta.get, snap.entries.map(_.copy(bytes = None)))
    val legacyDirs = legacy.listFiles(Nil, Nil)
    assert(legacy.fsStatusLookups === snap.entries.size)
    assert(legacyDirs.flatMap(_.files).map(_.getLen).sum === size)
  }

  test("metadata-only counts: countRows and countByPartition without data I/O") {
    val root = tmp("counts")
    mkTable(root) // 300 rows, partitions 0/1/2
    assert(LakeTable.countRows(spark, root) === Some(300L))
    spark.range(10).select((col("id") + 1000).as("k"), lit(9).as("p"), lit("x").as("v"))
      .write.format("graft-lake").mode("append").save(root)
    assert(LakeTable.countRows(spark, root) === Some(310L))
    assert(LakeTable.countByPartition(spark, root) ===
      Some(Map("0" -> 100L, "1" -> 100L, "2" -> 100L, "9" -> 10L)))
    // a merge (1 update + 1 insert) keeps counts metadata-accurate
    LakeTable.merge(spark, root,
      Seq((5L, 0, "upd"), (9999L, 2, "new")).toDF("k", "p", "v"), Seq("k"), "p")
    assert(LakeTable.countRows(spark, root) === Some(311L))
    assert(LakeTable.countRows(spark, root).get ===
      LakeTable.read(spark, root).count())
  }

  test("optimize rebuilds bloom sidecars; point lookups keep pruning after compaction") {
    val root = tmp("bloomopt")
    val mk = (off: Long) => spark.range(500).select(
      (col("id") + off).as("k"), pmod(col("id"), lit(4)).cast("int").as("p"),
      concat(lit("x"), col("id") + off).as("v"))
    LakeTable.init(spark, root, mk(0), "p", bloomCols = Seq("k"))
    LakeTable.append(spark, root, mk(1000))
    LakeTable.append(spark, root, mk(2000))
    LakeTable.optimize(spark, root, minFilesPerPartition = 2)
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.entries.size === 4) // compacted to one file per partition
    val kept = snap.entries.filter(
      LakeTable.predicateFilePruner(spark, root, snap.meta.get, col("k") === 123L))
    assert(kept.size < snap.entries.size,
      s"post-optimize blooms must still prune: kept ${kept.size} of ${snap.entries.size}")
    assert(LakeTable.readPoint(spark, root, "k", 123L)
      .select("v").head.getString(0) === "x123")
    assert(LakeTable.readPoint(spark, root, "k", 2123L)
      .select("v").head.getString(0) === "x2123")
  }

  test("history folds the manifests: per-version files/rows and commit deltas") {
    val root = tmp("history")
    mkTable(root) // v1: 300 rows
    spark.range(10).select((col("id") + 1000).as("k"), lit(0).as("p"), lit("x").as("v"))
      .write.format("graft-lake").mode("append").save(root) // v2: +10
    LakeTable.delete(spark, root, col("k") >= 1000L, "p") // v3: -10 (rewrites p=0)
    val h = LakeTable.history(spark, root).orderBy("version").collect()
    assert(h.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L))
    assert(h.map(_.getLong(2)).toSeq === Seq(300L, 310L, 300L)) // rows per version
    assert(h(1).getLong(4) === 10L) // v2 rows_added
    assert(h(1).getLong(5) === 0L)  // v2 removed nothing
    assert(h(2).getLong(5) > 0L)    // v3 removed files (the rewrite)
    // rows delta reconciles: rows(v) = rows(v-1) + added - removed
    (1 until 3).foreach { i =>
      assert(h(i).getLong(2) === h(i - 1).getLong(2) + h(i).getLong(4) - h(i).getLong(6))
    }
  }

  test("restore rolls back to an old version as a new commit; history stays linear") {
    val root = tmp("restore")
    mkTable(root) // v1: 300 rows
    LakeTable.merge(spark, root,
      Seq((5L, 0, "bad"), (8888L, 1, "bad")).toDF("k", "p", "v"), Seq("k"), "p") // v2
    LakeTable.delete(spark, root, col("k") < 10L, "p") // v3
    assert(LakeTable.read(spark, root).count() === 291)

    val newV = LakeTable.restore(spark, root, 1L)
    assert(newV === 4L)
    val restored = LakeTable.read(spark, root)
    assert(restored.count() === 300)
    assert(restored.where(col("v") === "bad").count() === 0)
    // bit-identical to v1 and the mistake still time-travels
    assert(restored.orderBy("k").collect().toSeq ===
      LakeTable.readVersion(spark, root, 1L).orderBy("k").collect().toSeq)
    assert(LakeTable.readVersion(spark, root, 3L).count() === 291)
    // the restore is an ordinary commit: CDC walk classifies it
    val cdc = LakeTable.changesSince(spark, root, 3L, keyCols = Seq("k"))
    assert(cdc.where(col("_change_type") === "insert").count() === 10) // k<10 back
    // restoring to a version that never existed fails crisply
    intercept[IllegalArgumentException] { LakeTable.restore(spark, root, 99L) }
  }

  test("restore carries txn watermarks so replayed appends stay no-ops after rollback") {
    val root = tmp("restoretxn")
    mkTable(root) // v1
    val batch = spark.range(3).select((col("id") + 5000).as("k"), lit(1).as("p"), lit("t").as("v"))
    LakeTable.append(spark, root, batch, txnAppId = Some("app1"), txnVersion = 7L) // v2
    LakeTable.restore(spark, root, 1L) // v3: rollback removes the appended rows
    assert(LakeTable.read(spark, root).count() === 300)
    // the replayed (appId, version) must STILL be a no-op post-restore
    val s = LakeTable.append(spark, root, batch, txnAppId = Some("app1"), txnVersion = 7L)
    assert(s.filesWritten === 0)
    assert(LakeTable.read(spark, root).count() === 300)
    // a genuinely newer txn version lands
    LakeTable.append(spark, root, batch, txnAppId = Some("app1"), txnVersion = 8L)
    assert(LakeTable.read(spark, root).count() === 303)
  }

  test("vacuum reclaims dead batches' bloom sidecar dirs; live blooms keep working") {
    val root = tmp("bloomvac")
    val mk = (tag: String) => spark.range(100).select(
      col("id").as("k"), pmod(col("id"), lit(4)).cast("int").as("p"),
      concat(lit(tag), col("id")).as("v"))
    LakeTable.init(spark, root, mk("a"), "p", bloomCols = Seq("k"))
    LakeTable.overwrite(spark, root, mk("b")) // v2 replaces every v1 file
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    def indexDirs = fs.listStatus(new org.apache.hadoop.fs.Path(root, "index"))
      .count(_.isDirectory)
    assert(indexDirs === 2) // both batches' sidecars present pre-vacuum
    LakeTable.vacuum(spark, root, retainMillis = 0L)
    assert(indexDirs === 1, "dead batch's sidecar dir must be reclaimed")
    // live blooms unaffected
    val kept = {
      val snap = LakeTable.snapshot(spark, root)
      snap.entries.filter(
        LakeTable.predicateFilePruner(spark, root, snap.meta.get, col("k") === 42L))
    }
    assert(kept.nonEmpty)
    assert(LakeTable.readPoint(spark, root, "k", 42L).select("v").head.getString(0) === "b42")
  }

  test("pruned connector reads equal unpruned filtered reads across predicate shapes") {
    val root = tmp("equiv")
    mkTable(root)
    val lake = spark.read.format("graft-lake").load(root)
    val plain = LakeTable.read(spark, root)
    val predicates: Seq[DataFrame => DataFrame] = Seq(
      _.where(col("k") < 50),
      _.where(col("k").between(120, 130)),
      _.where(col("p") === 2),
      _.where(col("p").isin(1)),
      _.where(col("k") === 250),
      _.where(col("v") === "v7"),
      _.where(col("k") >= 250 && col("p") === 2),
      _.where(col("k") > 1000)) // empty result, every file skippable
    predicates.zipWithIndex.foreach { case (f, i) =>
      val got = f(lake).orderBy("k").collect().toSeq
      val want = f(plain).orderBy("k").collect().toSeq
      assert(got === want, s"predicate #$i diverged under pruning")
    }
    // the default path face plans a DSv2 BatchScan, and its manifest
    // pruning reads strictly fewer files than the snapshot holds
    val ranged = lake.where(col("k").between(120, 130))
    assert(ranged.queryExecution.executedPlan.toString.contains("BatchScan"),
      "default path face must plan through DSv2")
    val total = LakeTable.snapshot(spark, root).entries.size.toLong
    val files = scannedFiles(ranged)
    assert(files < total, s"pruned read scanned $files of $total files")
  }

  test("reads of a root with no committed snapshot fail crisply, batch and streaming") {
    val missing = tmp("missing")
    val batch = intercept[Exception](
      spark.read.format("graft-lake").load(missing).collect())
    assert(causes(batch).contains("no committed snapshot"), causes(batch))
    val base = missing.stripSuffix("/t")
    val stream = intercept[Exception] {
      val q = spark.readStream.format("graft-lake").load(missing)
        .writeStream.format("noop").option("checkpointLocation", s"$base/ckpt")
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    assert(causes(stream).contains("no committed snapshot"), causes(stream))
  }

  test("maxVersionsPerTrigger drains a version backlog in capped micro-batches") {
    val root = tmp("capped")
    val base = root.stripSuffix("/t")
    mkTable(root) // v1
    (1 to 3).foreach { i =>
      spark.range(2).select((col("id") + i * 100 + 2000).as("k"), lit(i % 3).as("p"),
        lit(s"b$i").as("v"))
        .write.format("graft-lake").mode("append").save(root) // v2..v4
    }
    val q = spark.readStream.format("graft-lake")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$base/out")
    assert(got.count() === 306)
    assert(got.select(countDistinct("k")).head.getLong(0) === 306)
    // one offset commit per version: the backlog drained in >= 4 batches
    val offsets = new java.io.File(s"$base/ckpt/offsets").listFiles()
      .count(f => f.getName.forall(_.isDigit))
    assert(offsets >= 4, s"expected >=4 capped micro-batches, saw $offsets offset files")
  }

  test("readChangeFeed streams classified per-commit changes; bootstrap delivers snapshot-as-inserts") {
    val root = tmp("cdf")
    val base = root.stripSuffix("/t")
    Seq.tabulate(6)(i => (i.toLong, i % 2, s"a$i")).toDF("k", "p", "v")
      .write.format("graft-lake").option("partitionCol", "p").save(root) // v1
    LakeTable.merge(spark, root,
      Seq((2L, 0, "upd"), (10L, 0, "new")).toDF("k", "p", "v"), Seq("k"), "p") // v2
    LakeTable.delete(spark, root, col("k") === 3L, "p") // v3

    def drain(name: String, extra: Map[String, String]): DataFrame = {
      var r = spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true").option("keyCols", "k")
      extra.foreach { case (k, v) => r = r.option(k, v) }
      val q = r.load(root)
        .writeStream.format("parquet")
        .option("path", s"$base/$name-out")
        .option("checkpointLocation", s"$base/$name-ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      spark.read.parquet(s"$base/$name-out")
    }

    // per-commit replay from v1: v2's merge and v3's delete, classified
    val hist = drain("hist", Map("startingVersion" -> "1"))
    val cells = hist.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(cells === Map(
      (2L, "update_preimage") -> 1L, (2L, "update_postimage") -> 1L,
      (2L, "insert") -> 1L, (3L, "delete") -> 1L))
    assert(hist.where(col("_change_type") === "update_postimage")
      .select("v").head.getString(0) === "upd")
    assert(hist.where(col("_change_type") === "delete").select("k").head.getLong(0) === 3L)

    // restart the same checkpoint after an append: exactly the v4 insert
    spark.range(1).select(lit(20L).as("k"), lit(0).as("p"), lit("tail").as("v"))
      .write.format("graft-lake").mode("append").save(root) // v4
    val hist2 = drain("hist", Map("startingVersion" -> "1"))
    assert(hist2.count() === hist.count() + 1)
    assert(hist2.where(col("_commit_version") === 4L).select("k", "_change_type")
      .collect().map(r => (r.getLong(0), r.getString(1))).toSeq === Seq((20L, "insert")))

    // default bootstrap: current snapshot as inserts at the head version
    val boot = drain("boot", Map.empty)
    assert(boot.count() === 7) // 6 init - k=3 + k=10 + k=20
    assert(boot.select("_change_type").distinct().head.getString(0) === "insert")
    assert(boot.select("_commit_version").distinct().head.getLong(0) === 4L)

    // guard rails
    intercept[Exception] {
      spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true").load(root)
    }
    intercept[Exception] {
      spark.readStream.format("graft-lake")
        .option("readChangeFeed", "true").option("keyCols", "k")
        .option("skipChangeCommits", "true").load(root)
    }
  }

  test("startingVersion skips the initial snapshot") {
    val root = tmp("startv")
    val base = root.stripSuffix("/t")
    mkTable(root) // v1
    spark.range(2).select((col("id") + 900).as("k"), lit(1).as("p"), lit("tail").as("v"))
      .write.format("graft-lake").mode("append").save(root) // v2
    val q = spark.readStream.format("graft-lake")
      .option("startingVersion", "1").load(root)
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$base/out")
    assert(got.count() === 2)
    assert(got.select("v").distinct().head.getString(0) === "tail")
  }
}
