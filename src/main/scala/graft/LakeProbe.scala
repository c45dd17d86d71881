package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.engine.SparkEngine
import graft.operators.{LakeStats, LakeTable}

/** Manual lake-layer scale probes (not part of the driver contract).
  *
  * 1. N-WRITER CONTENTION: N concurrent `merge` writers upsert
  *    disjoint key ranges of one table. Prints wall time, the landed
  *    version range, and verifies (a) versions are dense (every writer's
  *    commit landed exactly once), (b) the final state equals the
  *    sequential application of all N batches. This is the optimistic-
  *    concurrency loop under real contention, not an injected single race.
  *
  * 2. MANIFEST SCALE: synthesizes manifests of 10k/100k/1M entries
  *    (multi-column stats, the 100 TB-table shape: ~100k files at 1 GB
  *    each) and times render / commit / snapshot-parse / prune — the
  *    planning-path costs that are O(files). Numbers feed SURVEY §7b's
  *    posture statement.
  *
  * Usage: runMain graft.LakeProbe [nWriters]
  */
object LakeProbe {
  def main(args: Array[String]): Unit = {
    val nWriters = args.headOption.map(_.toInt).getOrElse(8)
    val spark = SparkEngine.session(master = "local[32]", appName = "graft-lake-probe",
      shufflePartitions = 32)

    // ---- 1. N-writer contention ------------------------------------
    val root = s"${Files.createTempDirectory("graft-lake-probe")}/tbl"
    val base = spark.range(100000).select(
      col("id").as("k"),
      (col("id") % 16).cast("string").as("p"),
      (col("id") * 10).as("v"))
    LakeTable.init(spark, root, base, "p", statsCol = Some("k"))

    val span = 100000L / nWriters
    def batch(i: Int) = base
      .where(col("k") >= i * span && col("k") < i * span + 1000)
      .withColumn("v", col("v") + 1000000L + i)

    val t0 = System.nanoTime()
    val results = (0 until nWriters).map { i =>
      val th = new Thread { // one JVM thread per writer, shared session
        var stats: LakeTable.MergeStats = null
        override def run(): Unit =
          stats = LakeTable.merge(spark, root, batch(i), Seq("k"), "p",
            maxRetries = nWriters * 2)
      }
      th.start(); th
    }.map { th => th.join(); th }
    val wall = (System.nanoTime() - t0) / 1e9

    val s1 = LakeTable.snapshot(spark, root)
    require(s1.version == 1L + nWriters,
      s"expected dense versions 2..${1 + nWriters}, got head ${s1.version}")
    val expected = (0 until nWriters).map(batch).reduce(_ unionByName _)
      .unionByName(base.where((0 until nWriters)
        .map(i => col("k") >= i * span && col("k") < i * span + 1000)
        .reduce(_ || _).unary_!))
    val got = LakeTable.read(spark, root)
    require(got.count() == 100000L, s"row count drifted: ${got.count()}")
    require(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      "final state != sequential application")
    val probed = LakeTable.snapshot(spark, root).entries.size
    println(f"[lake] $nWriters concurrent merge writers: $wall%.1f s wall, " +
      s"versions 2..${s1.version} dense, state == sequential application, $probed files live")

    // ---- 2. manifest scale -----------------------------------------
    def synthEntries(n: Int): Seq[LakeTable.Entry] =
      (0 until n).map { i =>
        LakeTable.Entry(
          part = (i % 512).toString,
          rel = f"data/batch-$i%08x/__part=${i % 512}/part-00000-$i%08x.parquet",
          stats = Seq(
            (Some((i * 1000L).toString), Some((i * 1000L + 999).toString)),
            (Some(s"u${i % 100000}"), Some(s"u${i % 100000 + 887}"))),
          rows = Some(1000L),
          bytes = Some(128L * 1024 * 1024))
      }
    val meta = LakeTable.TableMeta(
      org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, u STRING, p STRING, v BIGINT"),
      "p", Seq("k", "u"))

    Seq(10000, 100000, 1000000).foreach { n =>
      val entries = synthEntries(n)
      def time[A](f: => A): (A, Double) = {
        val t = System.nanoTime(); val a = f; (a, (System.nanoTime() - t) / 1e9)
      }
      val (text, tRender) = time(LakeTable.renderManifest(meta, entries))
      val mroot = s"${Files.createTempDirectory("graft-manifest-probe")}/tbl"
      val (_, tCommit) = time {
        require(LakeTable.commit(spark, mroot, 1, meta, entries), "commit refused")
      }
      val (snap, tParse) = time(LakeTable.snapshot(spark, mroot))
      require(snap.entries.size == n, s"parse dropped entries: ${snap.entries.size}")
      // metadata-only planning: partition prune + range prune over n files
      val (kept, tPrune) = time(
        snap.entries.filter(LakeTable.predicateFilePruner(
          spark, mroot, meta, col("k").between(n * 500L, n * 500L + 5000L))))
      println(f"[lake] manifest n=$n%7d: render $tRender%6.3f s, commit $tCommit%6.3f s, " +
        f"parse $tParse%6.3f s, prune $tPrune%6.3f s (kept ${kept.size}), " +
        f"${text.length / 1048576.0}%5.1f MiB")

      // r15: the CONNECTOR planning face over the same entries. The data
      // files deliberately do not exist anywhere — FileStatus is
      // synthesized from the manifest's recorded lengths, so listFiles /
      // sizeInBytes complete with ZERO filesystem calls (require-pinned),
      // which is the whole point of recording lengths: plan-time cost is
      // the live entry list, never the file tree.
      import org.apache.spark.sql.catalyst.expressions.{
        AttributeReference, EqualTo, In, Literal => CLit}
      import org.apache.spark.sql.types.{LongType, StringType}
      val idx = new graft.sources.lake.LakeFileIndex(spark, mroot, meta, snap.entries)
      val pAttr = AttributeReference("p", StringType)()
      val kAttr = AttributeReference("k", LongType)()
      val (sz, tSize) = time(idx.sizeInBytes)
      val inSet = In(pAttr, (0 until 1000).map(i => CLit.create((i % 512).toString)))
      val kEq = EqualTo(kAttr, CLit.create(n * 500L))
      val (dirs, tList) = time(idx.listFiles(Nil, Seq(inSet, kEq)))
      require(idx.fsStatusLookups == 0, "planning must touch the manifest only")
      val keptFiles = dirs.map(_.files.length).sum
      println(f"[lake] connector n=$n%7d: sizeInBytes $tSize%6.3f s " +
        f"(${sz / (1L << 40)} TiB), listFiles(IN-1000 x k=point) $tList%6.3f s " +
        f"(kept $keptFiles), fs calls 0")

      // r16: SEGMENTED incremental commit — v2 appends 100 entries to
      // the n-entry table. Above the segment threshold v1's entries live
      // in segment files that carry into v2 BY REFERENCE, so the commit
      // writes one 100-entry segment plus a tiny manifest — O(batch),
      // not an O(n) full-manifest rewrite (the property that keeps a
      // 1M-file table's commit cost flat).
      def mSize(v: Long) = new java.io.File(s"$mroot/_manifests/v$v.manifest").length()
      val extra = synthEntries(100).map(e =>
        e.copy(rel = "data/extra-" + e.rel.stripPrefix("data/")))
      val (_, tInc) = time {
        require(LakeTable.commit(spark, mroot, 2, meta, snap.entries ++ extra),
          "incremental commit refused")
      }
      val (snap2, tParse2) = time(LakeTable.snapshot(spark, mroot))
      require(snap2.entries.size == n + 100, s"v2 drifted: ${snap2.entries.size}")
      println(f"[lake] manifest n=$n%7d incremental commit (+100 files): " +
        f"$tInc%6.3f s (full commit was $tCommit%6.3f s), manifest " +
        f"${mSize(2)} B vs inline ${text.length / 1048576.0}%5.1f MiB, " +
        f"re-snapshot $tParse2%6.3f s (segments cached)")
    }

    // ---- 3. bloom point-lookup scale -------------------------------
    // A 1M-row table scattered over 64 partition files (every file's key
    // range spans the domain — min/max CANNOT prune a point probe).
    // Times: init with sidecar build vs without (the write-time premium),
    // loadBlooms (the per-query sidecar read), and readPoint vs the
    // full filtered read, plus the kept-file count.
    def time[A](f: => A): (A, Double) = {
      val t = System.nanoTime(); val a = f; (a, (System.nanoTime() - t) / 1e9)
    }
    val bdf = spark.range(1000000L).select(
      col("id").as("k"),
      (col("id") % 64).cast("string").as("p"),
      (col("id") * 7).as("v"))
    val plainRoot = s"${Files.createTempDirectory("graft-bloom-probe")}/plain"
    val (_, tPlainInit) = time(LakeTable.init(spark, plainRoot, bdf, "p"))
    val bloomRoot = s"${Files.createTempDirectory("graft-bloom-probe")}/bloom"
    val (_, tBloomInit) = time(
      LakeTable.init(spark, bloomRoot, bdf, "p", bloomCols = Seq("k")))
    val snapB = LakeTable.snapshot(spark, bloomRoot)
    val (blooms, tLoad) = time(LakeStats.loadBlooms(spark, bloomRoot, Seq("k")))
    val probeKey = 777777L
    val (keptB, tPruneB) = time(
      snapB.entries.filter(LakeTable.predicateFilePruner(
        spark, bloomRoot, snapB.meta.get, col("k") === probeKey)))
    val (hitCnt, tPoint) = time(
      LakeTable.readPoint(spark, bloomRoot, "k", probeKey).count())
    val (fullCnt, tFull) = time(
      LakeTable.read(spark, plainRoot).where(col("k") === probeKey).count())
    require(hitCnt == 1L && fullCnt == 1L, s"point lookup drifted: $hitCnt/$fullCnt")
    val sidecarBytes = {
      val p = LakeStats.sidecarDir(bloomRoot)
      val f = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val it = f.listFiles(p, true)
      Iterator.continually(it).takeWhile(_.hasNext).map(_.next())
        .filter(_.isFile).map(_.getLen).sum
    }
    println(f"[lake] bloom 1M rows/${snapB.entries.size} files: init " +
      f"$tBloomInit%5.1f s (plain $tPlainInit%5.1f s), sidecar " +
      f"${sidecarBytes / 1048576.0}%5.2f MiB, load $tLoad%6.3f s " +
      f"(${blooms.size} filters), prune $tPruneB%6.3f s kept ${keptB.size}, " +
      f"readPoint $tPoint%6.3f s vs full filtered read $tFull%6.3f s")

    // ---- 4. mass MOR delete: executor-published DV sidecars --------
    // A sparse delete touching ~every one of 10⁴ files. The position
    // bitmaps build distributedly AND the sidecars publish from tasks
    // (publishDvSidecars) — the driver receives one (key, rel,
    // cardinality) triple per file, never bitmap bytes, so heap delta
    // stays flat no matter how many files the delete touches.
    val morRoot = s"${Files.createTempDirectory("graft-mor-probe")}/t"
    val mdf = spark.range(2560000L).select(
      col("id").as("k"),
      (col("id") % 16).cast("string").as("p"),
      (col("id") * 3).as("v"))
    // bucket:10240 hidden partitioning → 10,240 one-file partitions:
    // the writer's repartition(PartDirCol) collapses each partition
    // value to one file, so file count == partition count by design
    val (_, tMorInit) = time(
      LakeTable.init(spark, morRoot, mdf, "k", partitionFn = "bucket:10240", deleteMode = "mor"))
    val nMorFiles = LakeTable.snapshot(spark, morRoot).entries.size
    require(nMorFiles >= 10000, s"probe needs >=10^4 files, got $nMorFiles")
    val rt = Runtime.getRuntime
    def usedHeap(): Long = { System.gc(); rt.totalMemory - rt.freeMemory }
    val h0 = usedHeap()
    val (morStats, tMor) = time(
      LakeTable.delete(spark, morRoot, col("k") % 97 === 0, "k"))
    val heapMb = (usedHeap() - h0) / 1048576.0
    val expectDead = (0L until 2560000L).count(_ % 97 == 0).toLong
    val liveCnt = LakeTable.read(spark, morRoot).count()
    require(liveCnt == 2560000L - expectDead, s"mass MOR delete drifted: $liveCnt")
    require(morStats.filesRewritten >= 9000,
      s"a ~1% delete should DV nearly every file, got ${morStats.filesRewritten}")
    println(f"[lake] mass MOR delete: $nMorFiles files (init $tMorInit%5.1f s), " +
      f"${morStats.filesRewritten} DV'd in $tMor%5.1f s, " +
      f"driver heap delta $heapMb%+7.1f MiB (sidecars task-published), " +
      f"live $liveCnt == ${2560000L - expectDead}")

    // ---- 5. manifest parse amplification per SQL statement ---------
    // The fixed cost the r17 bench flagged: every snapshot()/readManifest
    // used to RE-PARSE the manifest header + inline entries. With the
    // (path, mtime, len)-keyed doc cache, a statement should parse at
    // most the manifests it has never seen — ~1 per commit it performs,
    // 0 for a read of an unchanged table.
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      Files.createTempDirectory("graft-parse-probe").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.pp (k BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES (statsCols 'k')")
    spark.sql("INSERT INTO graft.db.pp SELECT id, cast(id % 4 AS string), id * 2 " +
      "FROM range(1000)")
    spark.sql("SELECT count(*) FROM graft.db.pp").collect() // warm the head manifest
    def parsesOf(label: String)(f: => Unit): (Long, Long) = {
      val before = LakeTable.manifestParses.get()
      val segBefore = LakeTable.segmentLoads.get()
      f
      val d = LakeTable.manifestParses.get() - before
      val ds = LakeTable.segmentLoads.get() - segBefore
      println(f"[lake] manifest parses / $label%-28s = $d (segment loads $ds)")
      (d, ds)
    }
    val (pSel, _) = parsesOf("SELECT (warm table)") {
      spark.sql("SELECT sum(v) FROM graft.db.pp WHERE k < 100").collect()
    }
    val (pSel2, sSel2) = parsesOf("repeat SELECT") {
      spark.sql("SELECT sum(v) FROM graft.db.pp WHERE k < 100").collect()
    }
    require(pSel <= 1 && pSel2 == 0 && sSel2 == 0,
      s"reads of an unchanged table must not re-parse manifests ($pSel/$pSel2/$sSel2)")
    val (pUpd, _) = parsesOf("UPDATE (one commit)") {
      spark.sql("UPDATE graft.db.pp SET v = v + 1 WHERE k = 7").collect()
    }
    require(pUpd <= 2, s"a single-commit DML should parse ~1 new manifest, got $pUpd")
    spark.stop()
  }
}
