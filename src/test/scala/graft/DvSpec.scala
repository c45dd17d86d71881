package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{CommitConflict, Dv, LakeTable}

/** Deletion vectors (merge-on-read deletes): the write-fast delete path.
  * Pins the properties the oracle can't see — data files UNTOUCHED by a
  * MOR delete (same rels before/after), metadata-only live counts,
  * vector union on overlapping deletes, full-file drop, idempotent
  * re-delete without a commit, time travel across DV commits, COW/
  * OPTIMIZE materialization (dv-free entries afterwards), the CDC feed
  * classifying DV diffs as deletes (and a RESTORE as resurrection
  * inserts), vacuum reclaiming superseded vectors, and the manifest
  * format-3 claim gating old readers only when a DV actually exists.
  */
class DvSpec extends SparkSpec {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-dv").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  private def baseDf = {
    import spark.implicits._
    spark.range(300).select(
      col("id").as("k"),
      (col("id") % 3).cast("string").as("p"),
      (col("id") * 10).as("v"))
  }

  test("MOR delete: rows vanish from reads while data files stay untouched") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", deleteMode = "mor")
    val relsBefore = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet

    val stats = LakeTable.delete(spark, root, col("k") % 10 === 7, "p")
    assert(stats.version === 2)
    assert(stats.filesWritten === 0, "a MOR delete writes no data rows")

    val snap = LakeTable.snapshot(spark, root)
    assert(snap.entries.map(_.rel).toSet === relsBefore,
      "the delete must not add, drop, or rewrite any data file")
    assert(snap.entries.exists(_.dv.isDefined), "at least one file gained a vector")
    assert(snap.entries.flatMap(_.dv).map(_.card).sum === 30)

    val got = LakeTable.read(spark, root)
    assert(got.count() === 270)
    assert(got.where(col("k") % 10 === 7).isEmpty)
    // metadata-only count reports LIVE rows
    assert(LakeTable.countRows(spark, root) === Some(270L))
    assert(LakeTable.countByPartition(spark, root).get.values.sum === 270L)
  }

  test("MOR clause merge with by-source: tombstones + one append, untouched files byte-identical") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"), deleteMode = "mor")
    val before = LakeTable.snapshot(spark, root).entries
    def bytesOf(rel: String): (Long, Long) = {
      val p = new org.apache.hadoop.fs.Path(s"${LakeTable.dataRoot(root)}/$rel")
      val st = p.getFileSystem(spark.sparkContext.hadoopConfiguration).getFileStatus(p)
      (st.getLen, st.getModificationTime)
    }
    val sig = before.map(e => e.rel -> bytesOf(e.rel)).toMap

    // full-sync CDC apply: source = desired state (keys %10==4 dropped,
    // %10==0 re-priced, a handful of brand-new keys); matched rows only
    // fire when CHANGED, unmatched source inserts, by-source rows
    // conditionally delete or zero out
    val src = spark.range(300).where(col("id") % 10 =!= 4)
      .select(col("id").as("k"), (col("id") % 3).cast("string").as("p"),
        when(col("id") % 10 === 0, col("id") * 10 + 1).otherwise(col("id") * 10).as("v"))
      .unionByName(spark.range(1000, 1005).select(
        col("id").as("k"), lit("9").as("p"), (col("id") * 10).as("v")))
    val withS = src.columns.foldLeft(src)((d, c) => d.withColumn("__s_" + c, col(c)))
    val stats = LakeTable.mergeClauses(spark, root, withS, Seq("k"),
      matched = Seq(LakeTable.MergeBranch(Some(col("v") =!= col("__s_v")),
        Some(Map("v" -> col("__s_v"))))),
      notMatched = Seq(LakeTable.MergeBranch(None, Some(
        Map("k" -> col("__s_k"), "p" -> col("__s_p"), "v" -> col("__s_v"))))),
      notMatchedBySource = Seq(
        LakeTable.MergeBranch(Some(col("k") % 3 === 0), None),
        LakeTable.MergeBranch(None, Some(Map("v" -> lit(-1L))))),
      partitionCol = "p")
    assert(stats.version === 2, "one atomic commit")

    val snap = LakeTable.snapshot(spark, root)
    val afterRels = snap.entries.map(_.rel).toSet
    // zero COW rewrites: every original file survives in the manifest
    // (tombstoned via DV where rows fired) and is BYTE-IDENTICAL on disk
    assert(before.map(_.rel).forall(afterRels.contains),
      "a by-source MOR merge must never drop or rewrite an original file")
    before.foreach(e => assert(bytesOf(e.rel) === sig(e.rel),
      s"${e.rel} must stay byte-identical under MOR"))
    assert(snap.entries.exists(e => sig.contains(e.rel) && e.dv.isDefined),
      "fired rows must land as deletion vectors")
    assert(stats.filesWritten > 0, "postimages + inserts append as new files")

    // content: matched-changed re-priced, unchanged untouched, inserts in,
    // by-source %3==0 deleted, other by-source rows zeroed to -1
    val got = LakeTable.read(spark, root).select($"k".as[Long], $"v".as[Long])
      .collect().toMap
    assert(got(0L) === 1L && got(10L) === 101L, "matched-changed takes the source value")
    assert(got(1L) === 10L, "matched-unchanged stays")
    assert(got(1000L) === 10000L, "unmatched source inserts")
    assert(!got.contains(24L) && !got.contains(54L), "by-source %3==0 deletes")
    assert(got(14L) === -1L && got(44L) === -1L, "by-source fallback zeroes")
    assert(got.size === 300 - 10 + 5, "10 by-source keys deleted, 5 inserted")
  }

  test("MOR verbs rebase on a disjoint lost race instead of recomputing") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"), deleteMode = "mor")
    val interloper = spark.range(5000, 5010).select(
      col("id").as("k"), lit("9").as("p"), lit(1L).as("v"))

    // a MOR delete loses to a stats-disjoint append → metadata rebase
    val r0 = LakeTable.mergeRebases.get()
    var fired = 0
    val del = LakeTable.delete(spark, root, col("k") < 10, "p", preCommit = () => {
      fired += 1
      if (fired == 1) LakeTable.append(spark, root, interloper)
    })
    assert(fired === 1, "the losing MOR delete must rebase, not recompute")
    assert(LakeTable.mergeRebases.get() === r0 + 1)
    assert(del.version === 3)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 300)
    assert(got.where(col("k") < 10).isEmpty)
    assert(got.where(col("k") >= 5000).count() === 10, "winner's append survives")
    assert(LakeTable.snapshot(spark, root).entries.exists(_.dv.isDefined),
      "the rebased delete still lands as deletion vectors")

    // a MOR update loses to another disjoint append → rebase again
    val r1 = LakeTable.mergeRebases.get()
    var fired2 = 0
    LakeTable.update(spark, root, col("k") >= 290 && col("k") < 300,
      Map("v" -> lit(777L)), "p", preCommit = () => {
        fired2 += 1
        if (fired2 == 1) LakeTable.append(spark, root,
          spark.range(6000, 6005).select(
            col("id").as("k"), lit("9").as("p"), lit(2L).as("v")))
      })
    assert(fired2 === 1 && LakeTable.mergeRebases.get() === r1 + 1)
    assert(LakeTable.read(spark, root)
      .where(col("v") === 777L).count() === 10)
    assert(LakeTable.read(spark, root).count() === 305)

    // a winner whose new file MAY match the predicate → rebase refuses,
    // the typed conflict surfaces for the retry loop (one attempt here)
    val r2 = LakeTable.mergeRebases.get()
    var fired3 = 0
    val e = intercept[CommitConflict](
      LakeTable.delete(spark, root, col("k") === 50, "p", maxRetries = 0, preCommit = () => {
        fired3 += 1
        if (fired3 == 1) LakeTable.append(spark, root,
          Seq((50L, "9", 5L)).toDF("k", "p", "v"))
      }))
    assert(e.getMessage.contains("concurrent commit"))
    assert(LakeTable.mergeRebases.get() === r2, "no rebase when the winner may match")
  }

  test("two MOR writers tombstoning disjoint rows of ONE file OR-merge on rebase") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"), deleteMode = "mor")
    // both predicates hit the SAME files (every partition holds %10=3
    // and %10=7 rows) — the file-level untouched condition alone would
    // force the loser into a full recompute
    val r0 = LakeTable.mergeRebases.get()
    var fired = 0
    val del = LakeTable.delete(spark, root, col("k") % 10 === 3, "p",
      preCommit = () => {
        fired += 1
        if (fired == 1) LakeTable.delete(spark, root, col("k") % 10 === 7, "p")
      })
    assert(fired === 1, "the loser must land via DV-merge rebase, not recompute")
    assert(LakeTable.mergeRebases.get() === r0 + 1)
    assert(del.version === 3)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 240)
    assert(got.where(col("k") % 10 === 3 || col("k") % 10 === 7).isEmpty,
      "content must equal the sequential application")
    assert(LakeTable.snapshot(spark, root).entries.flatMap(_.dv).map(_.card).sum === 60,
      "one OR-merged vector per file carries both ops' tombstones")

    // a disjoint MOR update vs MOR delete on the same files also merges
    val r1 = LakeTable.mergeRebases.get()
    var fired2 = 0
    LakeTable.update(spark, root, col("k") % 10 === 1, Map("v" -> lit(999L)), "p",
      preCommit = () => {
        fired2 += 1
        if (fired2 == 1) LakeTable.delete(spark, root, col("k") % 10 === 9, "p")
      })
    assert(fired2 === 1 && LakeTable.mergeRebases.get() === r1 + 1)
    val after = LakeTable.read(spark, root)
    assert(after.where(col("k") % 10 === 9).isEmpty, "winner's delete survives")
    assert(after.where(col("v") === 999L).count() === 30, "loser's update lands")
    assert(after.count() === 210)

    // OVERLAPPING position sets refuse the merge — the loser's
    // postimages were computed against rows the winner killed
    val r2 = LakeTable.mergeRebases.get()
    var fired3 = 0
    val e = intercept[CommitConflict](
      LakeTable.update(spark, root, col("k") % 10 === 2, Map("v" -> lit(1L)), "p",
        maxRetries = 0, preCommit = () => {
          fired3 += 1
          if (fired3 == 1) LakeTable.delete(spark, root, col("k") === 2, "p")
        }))
    assert(e.getMessage.contains("concurrent commit"))
    assert(LakeTable.mergeRebases.get() === r2, "overlap must recompute, not merge")
  }

  test("MOR merge races: insert clauses force a recompute; delete-only merges rebase") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"), deleteMode = "mor")
    def withS(df: org.apache.spark.sql.DataFrame) =
      df.columns.foldLeft(df)((d, c) => d.withColumn("__s_" + c, col(c)))

    // a delete-only clause family racing a DISJOINT MOR delete on the
    // same files -> DV-merge rebase (no postimages, no classification
    // to flip)
    val r0 = LakeTable.mergeRebases.get()
    var fired = 0
    LakeTable.mergeClauses(spark, root,
      withS(baseDf.where(col("k") % 10 === 0)), Seq("k"),
      matched = Seq(LakeTable.MergeBranch(None, None)), // MATCHED DELETE
      notMatched = Nil, notMatchedBySource = Nil, partitionCol = "p",
      preCommit = () => {
        fired += 1
        if (fired == 1) LakeTable.delete(spark, root, col("k") % 10 === 7, "p")
      })
    assert(fired === 1 && LakeTable.mergeRebases.get() === r0 + 1)
    val got = LakeTable.read(spark, root)
    assert(got.where(col("k") % 10 === 0 || col("k") % 10 === 7).isEmpty)
    assert(got.count() === 240)

    // an INSERT clause on the same disjoint race must RECOMPUTE: the
    // winner's tombstone on a matched-but-unfired row would flip that
    // source row's sequential classification to NOT MATCHED
    val r1 = LakeTable.mergeRebases.get()
    var fired2 = 0
    val e = intercept[CommitConflict](
      LakeTable.mergeClauses(spark, root,
        withS(baseDf.where(col("k") % 10 === 1)), Seq("k"),
        matched = Seq(LakeTable.MergeBranch(None, None)),
        notMatched = Seq(LakeTable.MergeBranch(None, Some(Map(
          "k" -> col("__s_k"), "p" -> col("__s_p"), "v" -> col("__s_v"))))),
        notMatchedBySource = Nil, partitionCol = "p",
        maxRetries = 0, preCommit = () => {
          fired2 += 1
          if (fired2 == 1) LakeTable.delete(spark, root, col("k") % 10 === 9, "p")
        }))
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(LakeTable.mergeRebases.get() === r1, "insert clauses must not DV-merge")
  }

  test("a loser delete the winner already covered lands as an idempotent rebase") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"), deleteMode = "mor")
    // the winner's predicate (%5==3 -> %10 in {3,8}) covers EVERY row
    // the loser tombstones (%10==3): overlapping positions, but
    // re-deleting dead rows is idempotent — no recompute, no new rows
    val r0 = LakeTable.mergeRebases.get()
    var fired = 0
    LakeTable.delete(spark, root, col("k") % 10 === 3, "p", preCommit = () => {
      fired += 1
      if (fired == 1) LakeTable.delete(spark, root, col("k") % 5 === 3, "p")
    })
    assert(fired === 1 && LakeTable.mergeRebases.get() === r0 + 1)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 240)
    assert(got.where(col("k") % 5 === 3).isEmpty, "exactly the winner's state")
  }

  test("overlapping second delete unions vectors; re-delete of dead rows commits nothing") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", deleteMode = "mor")
    LakeTable.delete(spark, root, col("k") < 50, "p")
    val s2 = LakeTable.delete(spark, root, col("k") < 80, "p") // overlaps [0,50)
    assert(s2.version === 3)
    assert(LakeTable.read(spark, root).count() === 220)
    assert(LakeTable.snapshot(spark, root).entries.flatMap(_.dv).map(_.card).sum === 80)
    // every matching row is already dead -> no live hit, NO new commit
    val s3 = LakeTable.delete(spark, root, col("k") < 80, "p")
    assert(s3.version === 3, "an all-dead re-delete must not commit a version")
  }

  test("a file whose every row dies drops from the manifest entirely") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", deleteMode = "mor")
    val filesBefore = LakeTable.snapshot(spark, root).entries.size
    // partition "1" holds exactly the k % 3 == 1 rows: kill them all
    LakeTable.delete(spark, root, col("p") === "1", "p")
    val snap = LakeTable.snapshot(spark, root)
    assert(!snap.entries.exists(_.part == "1"), "fully-dead files drop, no tombstones")
    assert(snap.entries.size < filesBefore)
    assert(snap.entries.forall(_.dv.isEmpty), "surviving files gained no vector")
    assert(LakeTable.read(spark, root).count() === 200)
  }

  test("time travel reads across a DV commit; RESTORE resurrects") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", deleteMode = "mor")
    LakeTable.delete(spark, root, col("k") >= 200, "p")
    assert(LakeTable.readVersion(spark, root, 1).count() === 300,
      "the pre-delete snapshot must still read every row")
    assert(LakeTable.readVersion(spark, root, 2).count() === 200)
    val v3 = LakeTable.restore(spark, root, 1)
    assert(v3 === 3 && LakeTable.read(spark, root).count() === 300)
    // the CDC walk sees the restore as resurrection INSERTS of the
    // exact rows the DV killed
    val feed = LakeTable.tableChanges(spark, root, 2, 3, Seq("k"))
    assert(feed.where(col("_change_type") === "insert").count() === 100)
    assert(feed.where(col("_change_type") =!= "insert").isEmpty)
  }

  test("CDC classifies a DV delete; COW update and OPTIMIZE materialize vectors") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", deleteMode = "mor")
    LakeTable.delete(spark, root, col("k") % 10 === 3, "p")
    val feed = LakeTable.tableChanges(spark, root, 1, 2, Seq("k"))
    assert(feed.where(col("_change_type") === "delete").count() === 30)
    assert(feed.where(col("_change_type") =!= "delete").isEmpty)
    assert(feed.where(col("k") % 10 =!= 3).isEmpty, "only the killed rows appear")

    // a COW UPDATE over DV'd files applies the vector and materializes it
    LakeTable.alterTable(spark, root, deleteMode = Some("cow"))
    LakeTable.update(spark, root, col("k") % 10 === 4, Map("v" -> lit(-1L)), "p")
    val afterUpdate = LakeTable.snapshot(spark, root)
    assert(afterUpdate.entries.forall(_.dv.isEmpty),
      "the rewrite clears vectors (its files are dv-free)")
    val got = LakeTable.read(spark, root)
    assert(got.count() === 270, "dead rows must not resurrect through the rewrite")
    assert(got.where(col("v") === -1L).count() === 30)

    // OPTIMIZE materializes remaining vectors even in 1-file partitions
    LakeTable.alterTable(spark, root, deleteMode = Some("mor"))
    LakeTable.delete(spark, root, col("k") % 10 === 5, "p")
    LakeTable.optimize(spark, root, minFilesPerPartition = 1000000)
    val afterOpt = LakeTable.snapshot(spark, root)
    assert(afterOpt.entries.forall(_.dv.isEmpty))
    assert(LakeTable.read(spark, root).count() === 240)
    assert(LakeTable.countRows(spark, root) === Some(240L))
  }

  test("vacuum reclaims superseded vectors, keeps live ones; manifest claims format 3 only with a DV") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", deleteMode = "mor")
    val v1Text = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", "v1.manifest")), "UTF-8")
    assert(v1Text.startsWith("#format=1"), "a DV-free table stays format 1")

    LakeTable.delete(spark, root, col("k") % 2 === 0, "p")
    val v2Text = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_manifests", "v2.manifest")), "UTF-8")
    assert(v2Text.startsWith("#format=3"), "a DV'd manifest must gate old readers")
    val liveDv = LakeTable.snapshot(spark, root).entries.flatMap(_.dv).map(_.rel).toSet
    assert(liveDv.nonEmpty)

    // supersede every vector (optimize materializes), then vacuum hard
    LakeTable.optimize(spark, root, minFilesPerPartition = 1000000)
    LakeTable.vacuum(spark, root, retainMillis = 0L, keepVersions = 1)
    val dvDir = new java.io.File(s"$root/${Dv.Dir}")
    val left =
      if (!dvDir.exists()) Array.empty[String]
      else dvDir.list().filter(_.endsWith(".dv"))
    assert(left.isEmpty, s"superseded vectors must be reclaimed, found ${left.toSeq}")

    // and a LIVE vector survives a vacuum
    LakeTable.delete(spark, root, col("k") === 1, "p")
    LakeTable.vacuum(spark, root, retainMillis = 0L, keepVersions = 1)
    val liveNow = LakeTable.snapshot(spark, root).entries.flatMap(_.dv).map(_.rel)
    assert(liveNow.size === 1)
    assert(new java.io.File(s"$root/${liveNow.head}").exists())
    assert(LakeTable.read(spark, root).count() === 149)
  }

  test("MOR update: tombstone + append in one commit; COW semantics preserved") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", deleteMode = "mor")
    val relsBefore = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet

    val stats = LakeTable.update(spark, root, col("k") % 10 === 7,
      Map("v" -> (col("v") + 1L)), "p")
    assert(stats.version === 2)
    assert(stats.filesWritten > 0, "updated copies append as a new batch")
    val snap = LakeTable.snapshot(spark, root)
    assert(relsBefore.subsetOf(snap.entries.map(_.rel).toSet),
      "original files stay in place (tombstoned, not rewritten)")
    assert(snap.entries.flatMap(_.dv).map(_.card).sum === 30)

    val got = LakeTable.read(spark, root)
    assert(got.count() === 300, "update must not change the row count")
    assert(got.where(col("k") % 10 === 7).agg(sum("v")).head.getLong(0) ===
      (0 until 300).filter(_ % 10 == 7).map(_ * 10 + 1).sum)
    assert(LakeTable.countRows(spark, root) === Some(300L))

    // swap semantics: assignments read the PRE-update row
    LakeTable.update(spark, root, col("k") === 0,
      Map("v" -> col("k"), "k" -> col("v")), "p")
    assert(LakeTable.read(spark, root).where(col("v") === 0L).select("k").head.getLong(0) === 0L)

    // partition-moving assignment: the appended copy lands in the new
    // partition, the tombstoned original stays put
    LakeTable.update(spark, root, col("k") === 5, Map("p" -> lit("9")), "p")
    val moved = LakeTable.read(spark, root).where(col("k") === 5)
    assert(moved.count() === 1 && moved.select("p").head.getString(0) === "9")
    assert(LakeTable.countByPartition(spark, root).get("9") === 1L)

    // CDC across a MOR update: preimage + postimage, keyed on k
    val feed = LakeTable.tableChanges(spark, root, 3, 4, Seq("k"))
    assert(feed.where(col("_change_type") === "update_preimage").count() === 1)
    assert(feed.where(col("_change_type") === "update_postimage").count() === 1)
  }

  test("deletes under MOR keep stats/bloom pruning: untouched files are never probed") {
    val root = freshRoot()
    // RANGED partitions (p = k / 100) so per-file k stats are tight
    // non-overlapping intervals the pruner can act on
    val ranged = baseDf.withColumn("p", (col("k") / 100).cast("long").cast("string"))
    LakeTable.init(spark, root, ranged, "p", statsCols = Seq("k"), deleteMode = "mor")
    val total = LakeTable.snapshot(spark, root).entries.size
    val stats = LakeTable.delete(spark, root, col("k") === 5, "p")
    assert(stats.filesProbed < total,
      s"point delete must probe a pruned subset (probed ${stats.filesProbed} of $total)")
    assert(LakeTable.read(spark, root).count() === 299)
  }

  test("null-safe MOR clause merge prunes by key stats unless the source carries a NULL key") {
    val root = freshRoot()
    import spark.implicits._
    val ranged = baseDf.select(
      col("k").cast("string").as("g"),
      (col("k") / 100).cast("long").cast("string").as("p"), col("v"))
      .union(Seq((Option.empty[String], "0", -1L)).toDF("g", "p", "v"))
    LakeTable.init(spark, root, ranged, "p", statsCols = Seq("g"), deleteMode = "mor")
    val total = LakeTable.snapshot(spark, root).entries.size
    val bump = Seq(LakeTable.MergeBranch(None, Some(Map("v" -> (col("__s_v") + 1L)))))
    def src(keys: Option[String]*) = keys.map(k => (k, 0L)).toDF("g", "v")
      .withColumn("__s_g", col("g")).withColumn("__s_v", col("v"))

    // no NULL key in the batch: the stats probe still prunes
    val s1 = LakeTable.mergeClauses(spark, root, src(Some("5")), Seq("g"),
      matched = bump, notMatched = Nil, partitionCol = "p", nullSafeKeys = true)
    assert(s1.filesProbed < total,
      s"a NULL-free batch must probe a pruned subset (probed ${s1.filesProbed} of $total)")
    // a NULL key lies outside every bound: every file is probed, and the
    // NULL group matches (<=>) instead of being skipped
    val live = LakeTable.snapshot(spark, root).entries.size
    val s2 = LakeTable.mergeClauses(spark, root, src(None), Seq("g"),
      matched = bump, notMatched = Nil, partitionCol = "p", nullSafeKeys = true)
    assert(s2.filesProbed === live)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 301)
    assert(got.where(col("g") === "5").head.getAs[Long]("v") === 1L)
    assert(got.where(col("g").isNull).head.getAs[Long]("v") === 1L)
    assert(LakeTable.snapshot(spark, root).entries.exists(_.dv.isDefined),
      "the merges must have taken the MOR arm")
  }
}
