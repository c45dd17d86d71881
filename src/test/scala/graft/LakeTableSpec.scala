package graft

import java.nio.file.Files

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{CommitConflict, LakeStats, LakeTable}

/** Transactional copy-on-write MERGE (LakeTable): content correctness is
  * hash-checked by q130's oracle; this spec pins the TRANSACTIONAL
  * properties the oracle can't see — snapshot isolation around a crash
  * (an uncommitted batch is invisible), copy-on-write locality (files in
  * untouched partitions are carried by path, not rewritten), optimistic
  * concurrency (the second committer of a version is refused), vacuum
  * reclaiming exactly the unreferenced files past retention, OPTIMIZE
  * compaction, null/escaped partition values, manifest min/max data
  * skipping, schema evolution, and the CDC change feed.
  */
class LakeTableSpec extends SparkSpec {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-lake").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  /** The entries of `snap` the lake's file pruner keeps for `predicate`. */
  private def pruned(root: String, snap: LakeTable.Snapshot, predicate: Column) =
    snap.entries.filter(LakeTable.predicateFilePruner(spark, root, snap.meta.get, predicate))

  private def baseDf = {
    import spark.implicits._
    // 3 partitions, 300 rows; key = id
    spark.range(300).select(
      col("id").as("k"),
      (col("id") % 3).cast("string").as("p"),
      (col("id") * 10).as("v"))
  }

  test("manifest doc cache: repeated snapshots parse once; a re-created root misses") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    LakeTable.snapshot(spark, root) // warm the (path, mtime, len) entry
    val p0 = LakeTable.manifestParses.get()
    (1 to 10).foreach(_ => LakeTable.snapshot(spark, root))
    assert(LakeTable.manifestParses.get() === p0,
      "re-reading an unchanged manifest must not re-parse it")
    // a commit publishes a NEW version file → exactly the new manifest parses
    LakeTable.append(spark, root, baseDf.limit(3))
    LakeTable.snapshot(spark, root)
    val p1 = LakeTable.manifestParses.get()
    assert(p1 > p0)
    LakeTable.snapshot(spark, root)
    assert(LakeTable.manifestParses.get() === p1)
    // DROP + re-CREATE at the same path: the cache must MISS (the key
    // carries mtime/length), so readers see the new table's metadata
    val fs = new org.apache.hadoop.fs.Path(root)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(root), true)
    import spark.implicits._
    LakeTable.init(spark, root,
      Seq((1L, "a", "fresh")).toDF("k", "p", "note"), "p")
    val meta = LakeTable.snapshot(spark, root).meta.get
    assert(meta.schema.fieldNames.toSeq === Seq("k", "p", "note"),
      "a re-created table at the same path must not serve the dropped table's schema")
  }

  test("partition spec evolution composes with MOR DML and branches") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"), deleteMode = "mor")
    LakeTable.setPartitioning(spark, root, "k", "bucket:4")
    LakeTable.append(spark, root, spark.range(1000, 1050).select(
      col("id").as("k"), lit("7").as("p"), (col("id") * 10).as("v")))

    // MOR delete spanning both specs: tombstones land per file (rel-keyed,
    // spec-agnostic), originals stay, counts exact
    val before = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    LakeTable.delete(spark, root, col("k") % 10 === 5, "k")
    val s1 = LakeTable.snapshot(spark, root)
    assert(before.subsetOf(s1.entries.map(_.rel).toSet))
    assert(s1.entries.exists(_.dv.isDefined))
    assert(LakeTable.read(spark, root).count() === 350 - 35)
    assert(LakeTable.read(spark, root).where(col("k") % 10 === 5).count() === 0)

    // a branch forked AFTER evolution carries the spec history; branch
    // DML classifies per spec like main — a COW delete on the branch
    // rewrites the DV'd files of both specs
    val br = LakeTable.branchRef(root, "exp")
    LakeTable.branch(spark, root, "exp")
    assert(LakeTable.snapshot(spark, br).meta.get.priorSpecs.nonEmpty)
    LakeTable.alterTable(spark, br, deleteMode = Some("cow"))
    assert(LakeTable.delete(spark, br, col("k") < 3, "k").filesWritten > 0,
      "the branch delete must take the COW rewrite")
    assert(LakeTable.read(spark, br).count() === 315 - 3)
    assert(LakeTable.read(spark, root).count() === 315, "main pinned untouched")
  }

  test("lost-commit rebase: disjoint merges re-commit without recompute") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    val r0 = LakeTable.mergeRebases.get()

    // writer B lands BETWEEN A's write and A's commit (the preCommit
    // hook): key ranges are stats-disjoint, so A must REBASE — one
    // metadata re-commit, no second compute pass
    val srcA = baseDf.where(col("k") < 10).withColumn("v", col("v") + 1)
    val srcB = spark.range(5000, 5010).select(
      col("id").as("k"), lit("9").as("p"), lit(1L).as("v"))
    var fired = 0
    val stats = LakeTable.merge(spark, root, srcA, Seq("k"), "p", preCommit = () => {
      fired += 1
      if (fired == 1) LakeTable.merge(spark, root, srcB, Seq("k"), "p")
    })
    assert(fired === 1, "the losing merge must rebase, not recompute")
    assert(LakeTable.mergeRebases.get() === r0 + 1)
    assert(stats.version === 3)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 310)
    assert(got.where(col("k") < 10).select(sum("v")).head.getLong(0) ===
      (0 until 10).map(_ * 10L + 1).sum, "A's update applied")
    assert(got.where(col("k") >= 5000).count() === 10, "B's insert survived the rebase")

    // OVERLAPPING writers (B2 touches a file A2 rewrites): the rebase
    // refuses and the retry loop recomputes — sequential equivalence
    val r1 = LakeTable.mergeRebases.get()
    val srcA2 = baseDf.where(col("k") >= 20 && col("k") < 30).withColumn("v", lit(100L))
    val srcB2 = baseDf.where(col("k") === 25).withColumn("v", lit(200L))
    var fired2 = 0
    LakeTable.merge(spark, root, srcA2, Seq("k"), "p", maxRetries = 3, preCommit = () => {
      fired2 += 1
      if (fired2 == 1) LakeTable.merge(spark, root, srcB2, Seq("k"), "p")
    })
    assert(fired2 === 2, "overlapping writers must recompute")
    assert(LakeTable.mergeRebases.get() === r1, "no rebase on a true conflict")
    assert(LakeTable.read(spark, root).where(col("k") === 25)
      .head.getAs[Long]("v") === 100L, "A2 lands after B2, sequentially")
  }

  test("COW clause merge reaches the shared rebase tail") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    def withS(df: org.apache.spark.sql.DataFrame) =
      df.columns.foldLeft(df)((d, c) => d.withColumn("__s_" + c, col(c)))
    val bump = Seq(LakeTable.MergeBranch(None, Some(Map("v" -> (col("__s_v") + 1L)))))

    // a stats-disjoint winner lands BETWEEN the merge's write and its
    // commit: one metadata re-commit, no second compute pass
    val r0 = LakeTable.mergeRebases.get()
    var fired = 0
    val stats = LakeTable.mergeClauses(spark, root, withS(baseDf.where(col("k") < 10)),
      Seq("k"), matched = bump, notMatched = Nil, partitionCol = "p", preCommit = () => {
        fired += 1
        if (fired == 1) LakeTable.append(spark, root, spark.range(5000, 5010).select(
          col("id").as("k"), lit("9").as("p"), lit(1L).as("v")))
      })
    assert(fired === 1, "the losing clause merge must rebase, not recompute")
    assert(LakeTable.mergeRebases.get() === r0 + 1)
    assert(stats.version === 3)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 310)
    assert(got.where(col("k") < 10).agg(sum("v")).head.getLong(0) ===
      (0 until 10).map(_ * 10L + 1).sum, "the clause update applied")
    assert(got.where(col("k") >= 5000).count() === 10, "the winner's append survived")

    // an OVERLAPPING winner (it rewrote a file of our read set) refuses
    // the rebase: a single attempt surfaces the typed conflict
    val r1 = LakeTable.mergeRebases.get()
    var fired2 = 0
    val e = intercept[CommitConflict](
      LakeTable.mergeClauses(spark, root, withS(baseDf.where(col("k") >= 20 && col("k") < 30)),
        Seq("k"), matched = bump, notMatched = Nil, partitionCol = "p",
        maxRetries = 0, preCommit = () => {
          fired2 += 1
          if (fired2 == 1) LakeTable.merge(spark, root,
            baseDf.where(col("k") === 25).withColumn("v", lit(200L)), Seq("k"), "p")
        }))
    assert(e.getMessage.contains("concurrent commit"), e.getMessage)
    assert(LakeTable.mergeRebases.get() === r1, "no rebase on a true conflict")
    assert(LakeTable.read(spark, root).where(col("k") === 25).head.getAs[Long]("v") === 200L,
      "the loser's attempt stays invisible")
  }

  test("retryOnConflict retries a typed CommitConflict only, then rethrows it") {
    var attempts = 0
    val e = intercept[CommitConflict](LakeTable.retryOnConflict(2) {
      attempts += 1
      throw new CommitConflict(s"LakeTable.test: concurrent commit (attempt $attempts)")
    })
    assert(attempts === 3, "one attempt plus maxRetries retries")
    assert(e.getMessage.contains("attempt 3"), "the last conflict is rethrown")
    var n = 0
    assert(LakeTable.retryOnConflict(3) {
      n += 1
      if (n < 3) throw new CommitConflict("lost") else n
    } === 3, "a later attempt that lands returns its result")
    // a failure whose message merely SAYS "concurrent commit" is not a
    // conflict: no message text is matched anywhere
    var plain = 0
    val iae = intercept[IllegalArgumentException](LakeTable.retryOnConflict(3) {
      plain += 1
      throw new IllegalArgumentException("LakeTable.merge: concurrent commit at /t")
    })
    assert(plain === 1, "an untyped failure propagates on the first attempt")
    assert(iae.getMessage.contains("concurrent commit"))
  }

  test("lost-commit rebase covers UPDATE, DELETE and OPTIMIZE for disjoint writers") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))

    // DELETE loses to a stats-disjoint append → metadata rebase, no recompute
    val r0 = LakeTable.mergeRebases.get()
    val interloper = spark.range(5000, 5010).select(
      col("id").as("k"), lit("9").as("p"), lit(1L).as("v"))
    var fired = 0
    val del = LakeTable.delete(spark, root, col("k") < 10, "p", preCommit = () => {
      fired += 1
      if (fired == 1) LakeTable.append(spark, root, interloper)
    })
    assert(fired === 1, "the losing delete must rebase, not recompute")
    assert(LakeTable.mergeRebases.get() === r0 + 1)
    assert(del.version === 3)
    assert(LakeTable.read(spark, root).count() === 300 - 10 + 10)
    assert(LakeTable.read(spark, root).where(col("k") < 10).count() === 0)
    assert(LakeTable.read(spark, root).where(col("k") >= 5000).count() === 10,
      "the winner's append survives the rebase")

    // UPDATE loses to another disjoint append → rebase again
    val r1 = LakeTable.mergeRebases.get()
    var fired2 = 0
    val upd = LakeTable.update(spark, root, col("k") >= 290 && col("k") < 300,
      Map("v" -> lit(777L)), "p", preCommit = () => {
        fired2 += 1
        if (fired2 == 1) LakeTable.append(spark, root,
          spark.range(6000, 6005).select(col("id").as("k"), lit("9").as("p"), lit(2L).as("v")))
      })
    assert(fired2 === 1 && LakeTable.mergeRebases.get() === r1 + 1)
    assert(upd.version === 5)
    assert(LakeTable.read(spark, root)
      .where(col("k") >= 290 && col("k") < 300 && col("v") === 777L).count() === 10)
    assert(LakeTable.read(spark, root).count() === 305)

    // UPDATE loses to a writer whose NEW file may hold a matching row
    // → the rebase refuses (the winner's rows must re-enter the probe);
    // a single attempt surfaces the typed conflict the retry loop
    // recomputes from
    val r2 = LakeTable.mergeRebases.get()
    var fired3 = 0
    val e = intercept[CommitConflict](
      LakeTable.update(spark, root, col("k") === 50, Map("v" -> lit(1L)), "p",
        maxRetries = 0, preCommit = () => {
          fired3 += 1
          if (fired3 == 1) LakeTable.append(spark, root,
            Seq((50L, "9", 5L)).toDF("k", "p", "v"))
        }))
    assert(e.getMessage.contains("concurrent commit"))
    assert(LakeTable.mergeRebases.get() === r2, "no rebase when the winner may match")

    // OPTIMIZE loses to an append → rebase (compaction never needs the
    // winner's files: compacting fewer groups is content-preserving)
    val preSum = LakeTable.read(spark, root).agg(sum("v")).head.getLong(0)
    val r3 = LakeTable.mergeRebases.get()
    var fired4 = 0
    LakeTable.optimize(spark, root, 2, 0L, 3, preCommit = () => {
      fired4 += 1
      if (fired4 == 1) LakeTable.append(spark, root,
        spark.range(7000, 7005).select(col("id").as("k"), lit("9").as("p"), lit(3L).as("v")))
    })
    assert(fired4 === 1, "the losing optimize must rebase, not recompute")
    assert(LakeTable.mergeRebases.get() === r3 + 1)
    assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) === preSum + 5 * 3,
      "content preserved: compacted rows + the winner's append")
  }

  test("metadata cost is O(1) per statement: warm reads parse zero manifests") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.read(spark, root).count() // warm the head manifest
    val (p0, s0) = (LakeTable.manifestParses.get(), LakeTable.segmentLoads.get())
    LakeTable.read(spark, root).where(col("k") < 10).count()
    LakeTable.read(spark, root).agg(sum("v")).collect()
    assert(LakeTable.manifestParses.get() === p0,
      "warm reads of an unchanged table must hit the doc cache (zero parses)")
    assert(LakeTable.segmentLoads.get() === s0,
      "warm reads must load zero manifest segments")
    // a DML statement parses O(1) manifests — the versions it touches —
    // never O(history): grow the history first, then measure one delete
    (1 to 5).foreach(i =>
      LakeTable.append(spark, root, baseDf.where(col("k") === i)
        .select((col("k") + 1000L * i).as("k"), col("p"), col("v"))))
    LakeTable.read(spark, root).count() // warm the new head
    val p1 = LakeTable.manifestParses.get()
    LakeTable.delete(spark, root, col("k") === 1001L, "p")
    LakeTable.read(spark, root).count()
    val d = LakeTable.manifestParses.get() - p1
    assert(d <= 2, s"a single-commit DML + re-read must parse O(1) manifests, got $d")
  }

  test("partition spec evolution: per-spec pruning, DML across specs, OPTIMIZE migrates") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    val specBefore = LakeTable.snapshot(spark, root).entries.map(_.spec).toSet
    assert(specBefore === Set(0))

    // metadata-only: the spec changes for FUTURE writes, files untouched
    val relsBefore = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    LakeTable.setPartitioning(spark, root, "k", "bucket:4")
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.entries.map(_.rel).toSet === relsBefore, "spec change must be metadata-only")
    assert(s1.entries.forall(_.spec === 0), "existing files keep their spec")
    assert(s1.meta.get.priorSpecs === Seq(("p", graft.operators.PartitionFn.Identity)))

    // new writes file under the NEW spec
    val extra = spark.range(1000, 1100).select(
      col("id").as("k"), lit("7").as("p"), (col("id") * 10).as("v"))
    LakeTable.append(spark, root, extra)
    val s2 = LakeTable.snapshot(spark, root)
    assert(s2.entries.exists(_.spec === 1), "new files must record the current spec")
    assert(LakeTable.read(spark, root).count() === 400)

    // per-spec pruning: p='1' prunes OLD files by identity-partition
    // value AND keeps every new-spec file (conservative); k=1005 prunes
    // NEW files into their bucket
    val idx = graft.sources.lake.LakeFileIndex(spark, root, None)
    val total = s2.entries.size
    val pAttr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "p", org.apache.spark.sql.types.StringType)()
    idx.listFiles(Nil, Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(
      pAttr, org.apache.spark.sql.catalyst.expressions.Literal.create(
        "1", org.apache.spark.sql.types.StringType))))
    assert(idx.lastListedFiles > 0 && idx.lastListedFiles < total,
      s"old-spec files must still prune under the old spec (${idx.lastListedFiles}/$total)")
    val kAttr = org.apache.spark.sql.catalyst.expressions.AttributeReference(
      "k", org.apache.spark.sql.types.LongType)()
    val oldCount = s2.entries.count(_.spec === 0)
    idx.listFiles(Nil, Seq(org.apache.spark.sql.catalyst.expressions.EqualTo(
      kAttr, org.apache.spark.sql.catalyst.expressions.Literal(1005L))))
    assert(idx.lastListedFiles < total,
      s"new-spec files must prune in bucket space (${idx.lastListedFiles}/$total)")
    val _ = oldCount

    // DML spanning both specs: every file holding a matched row is
    // classified in ITS OWN spec space
    LakeTable.delete(spark, root, col("k") % 10 === 5, "k")
    assert(LakeTable.read(spark, root).count() === 400 - 40)
    assert(LakeTable.read(spark, root).where(col("k") % 10 === 5).count() === 0)

    // updates recompute across specs too
    LakeTable.update(spark, root, col("k") === 2 || col("k") === 1002,
      Map("v" -> lit(-1L)), "k")
    assert(LakeTable.read(spark, root).where(col("v") === -1L).count() === 2)

    // OPTIMIZE(minFiles=1) migrates every file to the current spec
    LakeTable.optimize(spark, root, minFilesPerPartition = 1)
    val s3 = LakeTable.snapshot(spark, root)
    assert(s3.entries.forall(_.spec === s3.meta.get.currentSpec),
      "compaction must migrate old-spec groups to the current spec")
    assert(LakeTable.read(spark, root).count() === 360)

    // the old partition column stays protected from rename/drop
    val e = intercept[Exception](LakeTable.alterTable(spark, root,
      renameColumns = Map("p" -> "p2")))
    assert(e.getMessage.contains("prior spec") || e.getMessage.contains("partition column"))
  }

  test("merge = source-wins upsert; q121-style relational re-derivation matches") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    // updates: even keys bump v and MOVE to partition "9" (partition-moving);
    // inserts: new keys 1000..1009 into partition "9"
    val updates = baseDf.where(col("k") % 2 === 0)
      .withColumn("v", col("v") + 1)
      .withColumn("p", lit("9"))
    val inserts = spark.range(1000, 1010).select(
      col("id").as("k"), lit("9").as("p"), lit(-1L).as("v"))
    val stats = LakeTable.merge(spark, root, updates.unionByName(inserts), Seq("k"), "p")
    assert(stats.version === 2)

    val got = LakeTable.read(spark, root).select("k", "p", "v")
    val expected = updates.unionByName(inserts)
      .unionByName(baseDf.where(col("k") % 2 =!= 0))
    assert(got.count() === 310)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("copy-on-write: files of untouched partitions carry over by path") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    val before = LakeTable.snapshot(spark, root).entries
    // touch ONLY partition "0" (update two rows in place, no moves)
    val src = baseDf.where(col("k") === 0 || col("k") === 3)
      .withColumn("v", col("v") + 100)
    val stats = LakeTable.merge(spark, root, src, Seq("k"), "p")
    val after = LakeTable.snapshot(spark, root).entries
    val beforeByPart = before.groupBy(_.part)
    val afterPaths = after.map(_.rel).toSet
    // untouched partitions' files still referenced verbatim
    beforeByPart.filter(_._1 != "0").foreach { case (_, entries) =>
      entries.foreach(e => assert(afterPaths.contains(e.rel), s"untouched file ${e.rel} rewritten"))
    }
    // touched partition's files all replaced
    beforeByPart("0").foreach(e => assert(!afterPaths.contains(e.rel)))
    assert(stats.filesCarried === before.count(_.part != "0"))
    assert(LakeTable.read(spark, root).count() === 300)
  }

  test("crash before commit is invisible; vacuum reclaims the orphans") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    val readBefore = LakeTable.read(spark, root).agg(sum("v")).head.getLong(0)
    // simulate a crash mid-merge: the batch directory is written but no
    // manifest ever references it (writeBatch is the merge's first half)
    val orphanDir = s"$root/data/orphan-batch"
    baseDf.limit(50).withColumn("__part", col("p"))
      .write.partitionBy("__part").parquet(orphanDir)
    // readers still see ONLY the committed snapshot
    assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) === readBefore)
    assert(LakeTable.read(spark, root).count() === 300)
    // within the retention window nothing is reclaimed (a concurrent
    // writer's in-flight batch looks exactly like this orphan)
    assert(LakeTable.vacuum(spark, root) === 0L)
    // past retention the orphans go; the table is unchanged
    val removed = LakeTable.vacuum(spark, root, retainMillis = 0L)
    assert(removed > 0)
    val fs = new org.apache.hadoop.fs.Path(orphanDir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val leftIt = fs.listFiles(new org.apache.hadoop.fs.Path(root, "data"), true)
    val leftParquet = Iterator.continually(leftIt).takeWhile(_.hasNext).map(_.next())
      .count(s => s.isFile && s.getPath.getName.endsWith(".parquet") &&
        s.getPath.toString.contains("orphan-batch"))
    assert(leftParquet === 0, "vacuum left orphan data files")
    assert(LakeTable.read(spark, root).count() === 300)
    assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) === readBefore)
  }

  test("optimistic concurrency: second commit of the same version is refused") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.version === 1)
    // two writers race from the same snapshot: both try to commit v2 —
    // the same-directory rename lets exactly one win
    val winner = LakeTable.commit(spark, root, 2, s1.meta.get, s1.entries)
    val loser = LakeTable.commit(spark, root, 2, s1.meta.get, Nil)
    assert(winner && !loser)
    // the winner's manifest is intact (the loser did not clobber it)
    val s2 = LakeTable.snapshot(spark, root)
    assert(s2.version === 2 && s2.entries === s1.entries)
    // a stale init must also refuse loudly rather than reset the table
    val ex = intercept[IllegalArgumentException] {
      LakeTable.init(spark, root, baseDf, "p")
    }
    assert(ex.getMessage.contains("already at version"))
  }

  test("time travel: any un-vacuumed version reads back exactly as committed") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    val v1Sum = LakeTable.read(spark, root).agg(sum("v")).head.getLong(0)
    val src = baseDf.where(col("k") < 50).withColumn("v", col("v") * 2)
    LakeTable.merge(spark, root, src, Seq("k"), "p")
    // current == v2, history == v1, both stable
    assert(LakeTable.readVersion(spark, root, 1).agg(sum("v")).head.getLong(0) === v1Sum)
    val v2Sum = LakeTable.read(spark, root).agg(sum("v")).head.getLong(0)
    assert(LakeTable.readVersion(spark, root, 2).agg(sum("v")).head.getLong(0) === v2Sum)
    assert(v2Sum === v1Sum + (0 until 50).map(_ * 10).sum)
    // vacuum past retention keeps only the current version's files:
    // v1 gone, v2 intact
    LakeTable.vacuum(spark, root, retainMillis = 0L)
    assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) === v2Sum)
    intercept[Exception] {
      LakeTable.readVersion(spark, root, 1).agg(sum("v")).head.getLong(0)
    }
  }

  test("delete: COW locality, NULL-predicate rows kept, idempotent re-issue") {
    val root = freshRoot()
    import spark.implicits._
    // partition "0" carries rows with a NULL v to pin the NULL semantics
    val base = spark.range(300).select(
      col("id").as("k"), (col("id") % 3).cast("string").as("p"),
      when(col("id") % 50 === 0, lit(null).cast("long")).otherwise(col("id") * 10).as("v"))
    LakeTable.init(spark, root, base, "p")
    val before = LakeTable.snapshot(spark, root).entries
    // predicate TRUE only in partition "0"; NULL for the null-v rows there
    val stats = LakeTable.delete(spark, root, col("p") === "0" && col("v") < 1000, "p")
    // only partition "0" rewritten; others carried by path
    val after = LakeTable.snapshot(spark, root).entries
    val afterPaths = after.map(_.rel).toSet
    before.filter(_.part != "0").foreach(e => assert(afterPaths.contains(e.rel)))
    assert(stats.matchedPartitions === 1)
    val got = LakeTable.read(spark, root)
    // deleted: p=0 AND v<1000 AND v NOT NULL -> k in {3,6,...,99} minus nulls
    val expected = base.where(!(col("p") === "0" && coalesce(col("v") < 1000, lit(false))))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    // NULL-v rows in partition 0 survived (SQL DELETE keeps NULL predicate)
    assert(got.where(col("p") === "0" && col("v").isNull).count() ===
      base.where(col("p") === "0" && col("v").isNull).count())
    // re-issuing the delete changes nothing and commits nothing
    val n1 = got.count()
    val v1 = LakeTable.snapshot(spark, root).version
    val again = LakeTable.delete(spark, root, col("p") === "0" && col("v") < 1000, "p")
    assert(LakeTable.read(spark, root).count() === n1)
    assert(again.version === v1 && LakeTable.snapshot(spark, root).version === v1)
  }

  test("COW DML rewrites the files holding a changed row, not their partition") {
    import spark.implicits._
    // no stats column: the file pruner keeps both files of partition "a",
    // so only the fate frame can tell the file without a changed row
    def twoFiles(): (String, LakeTable.Entry, LakeTable.Entry) = {
      val root = freshRoot()
      LakeTable.init(spark, root, Seq((1L, "a", 10L), (2L, "a", 20L)).toDF("k", "p", "v"), "p")
      val first = LakeTable.snapshot(spark, root).entries
      LakeTable.append(spark, root, Seq((3L, "a", 30L), (4L, "a", 40L)).toDF("k", "p", "v"))
      val es = LakeTable.snapshot(spark, root).entries
      assert(first.size === 1 && es.size === 2 && es.forall(_.part == "a"),
        s"fixture needs two files in one partition: $es")
      (root, first.head, es.filterNot(_.rel == first.head.rel).head)
    }
    def check(
        root: String,
        stats: LakeTable.MergeStats,
        carried: LakeTable.Entry,
        expected: Seq[(Long, String, Long)]): Unit = {
      val after = LakeTable.snapshot(spark, root).entries
      assert(after.exists(_.rel == carried.rel), s"untouched file must carry by path: $after")
      assert(stats.filesRewritten === 1 && stats.matchedPartitions === 1, s"$stats")
      val got = LakeTable.read(spark, root).select("k", "p", "v")
      val want = expected.toDF("k", "p", "v")
      assert(got.exceptAll(want).isEmpty && want.exceptAll(got).isEmpty)
    }

    val (r1, _, second1) = twoFiles()
    check(r1, LakeTable.delete(spark, r1, col("k") === 1L, "p"), second1,
      Seq((2L, "a", 20L), (3L, "a", 30L), (4L, "a", 40L)))

    val (r2, first2, _) = twoFiles()
    check(r2, LakeTable.update(spark, r2, col("k") === 3L, Map("v" -> lit(99L)), "p"), first2,
      Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "a", 99L), (4L, "a", 40L)))

    val (r3, _, second3) = twoFiles()
    check(r3, LakeTable.merge(spark, r3,
      Seq((2L, "a", 200L), (5L, "a", 50L)).toDF("k", "p", "v"), Seq("k"), "p"), second3,
      Seq((1L, "a", 10L), (2L, "a", 200L), (3L, "a", 30L), (4L, "a", 40L), (5L, "a", 50L)))
  }

  test("delete that removes every row leaves a readable, mergeable empty table") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    LakeTable.delete(spark, root, lit(true), "p")
    val got = LakeTable.read(spark, root)
    assert(got.count() === 0)
    assert(got.schema.fieldNames.toSeq === Seq("k", "p", "v"))
    // the empty state accepts a merge (everything inserts)
    val stats = LakeTable.merge(spark, root, baseDf.where(col("k") < 5), Seq("k"), "p")
    assert(stats.version === 3)
    assert(LakeTable.read(spark, root).count() === 5)
  }

  test("mergeWithRetry: the race loser recomputes on the winner's snapshot") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    // a one-shot saboteur steals the version number BETWEEN the merge's
    // snapshot read and its commit — exactly a losing race. The first
    // attempt must fail the rename; the retry recomputes against the
    // winner's snapshot and lands on the next version.
    var stole = false
    val steal: () => Unit = () =>
      if (!stole) {
        stole = true
        val s = LakeTable.snapshot(spark, root)
        assert(LakeTable.commit(spark, root, s.version + 1, s.meta.get, s.entries)) // the "winner"
      }
    val src = baseDf.where(col("k") < 10).withColumn("v", col("v") + 7)
    val stats = LakeTable.merge(spark, root, src, Seq("k"), "p", maxRetries = 3, preCommit = steal)
    assert(stole, "saboteur never ran — the race was not exercised")
    assert(stats.version === 3, s"expected the retry to land v3, got v${stats.version}")
    val got = LakeTable.read(spark, root)
    assert(got.count() === 300)
    assert(got.where(col("k") < 10).agg(sum("v")).head.getLong(0) ===
      (0 until 10).map(_ * 10 + 7).sum)
    // the losing attempt's batch is orphaned, never visible; vacuum eats it
    assert(LakeTable.vacuum(spark, root, retainMillis = 0L) > 0)
    assert(LakeTable.read(spark, root).count() === 300)
  }

  test("null and escaped partition values: merge and delete neither drop nor duplicate") {
    val root = freshRoot()
    // partition values exercising every encoding hazard: NULL (Hive
    // sentinel directory), '+' (URLDecoder would corrupt it to a space),
    // a real space, and a '%' (escape char itself)
    def mk(lo: Long, hi: Long, bump: Long) = spark.range(lo, hi).select(
      col("id").as("k"),
      when(col("id") % 4 === 0, lit(null))
        .when(col("id") % 4 === 1, lit("a+b"))
        .when(col("id") % 4 === 2, lit("c d"))
        .otherwise(lit("e%f")).as("p"),
      (col("id") * 10 + bump).as("v"))
    val base = mk(0, 100, 0)
    LakeTable.init(spark, root, base, "p")
    assert(LakeTable.read(spark, root).where(col("p").isNull).count() === 25)

    // update rows in EVERY partition (incl. the null one), insert a few
    val src = mk(0, 40, 1).unionByName(mk(1000, 1010, 0))
    LakeTable.merge(spark, root, src, Seq("k"), "p")
    val got = LakeTable.read(spark, root)
    val expected = src.unionByName(mk(40, 100, 0))
    assert(got.count() === 110, "merge over null/escaped partitions dropped or duplicated rows")
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // delete from the null partition specifically
    LakeTable.delete(spark, root, col("p").isNull && col("k") < 20, "p")
    val after = LakeTable.read(spark, root)
    assert(after.where(col("p").isNull).count() ===
      expected.where(col("p").isNull && !(col("k") < 20)).count())
    assert(after.count() === 110 - expected.where(col("p").isNull && col("k") < 20).count())
  }

  test("optimize WHERE: only metadata-matching partition groups compact; everything else carries untouched") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    (0 until 3).foreach { i =>
      LakeTable.append(spark, root, baseDf.where(col("k") % 10 === i)
        .select((col("k") + 1000L * (i + 1)).as("k"), col("p"), col("v")))
    }
    val before = LakeTable.snapshot(spark, root)
    val preSum = LakeTable.read(spark, root).agg(sum("v")).head.getLong(0)
    val otherRels = before.entries.filterNot(_.part == "1").map(_.rel).toSet

    // scope to partition p = '1': its group folds to one file, every
    // other group's entries are carried bit-identically
    val stats = LakeTable.optimize(spark, root, where = Some("p = '1'"))
    val after = LakeTable.snapshot(spark, root)
    assert(after.entries.count(_.part == "1") === 1, "scoped group must compact")
    assert(after.entries.filterNot(_.part == "1").map(_.rel).toSet === otherRels,
      "out-of-scope groups must carry untouched")
    assert(stats.filesRewritten === before.entries.count(_.part == "1"))
    assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) === preSum)

    // a stats-range predicate matching nothing compacts nothing (no commit)
    val noop = LakeTable.optimize(spark, root, where = Some("k > 99999999"))
    assert(noop.version === after.version && noop.filesWritten === 0)

    // unknown columns refuse crisply
    val e = intercept[IllegalArgumentException](
      LakeTable.optimize(spark, root, where = Some("nope = 1")))
    assert(e.getMessage.contains("unknown column nope"), e.getMessage)

    // SQL face: CALL with where scopes the same way (remaining groups fold)
    spark.sql("CALL graft.system.optimize(table => '" + root + "', " +
      "where => \"p = '0'\")")
    val after2 = LakeTable.snapshot(spark, root)
    assert(after2.entries.count(_.part == "0") === 1)
    assert(after2.entries.count(_.part == "2") === 4, "p=2 still uncompacted")
  }

  test("optimize WHERE on a nested field is unprunable: keeps every group in, never throws") {
    val root = freshRoot()
    val df = spark.range(20)
      .selectExpr("CAST(id AS INT) AS k", "CAST(id % 2 AS STRING) AS p",
        "named_struct('cust', CAST(id AS INT)) AS s")
    LakeTable.init(spark, root, df.where(col("k") < 10), "p")
    LakeTable.append(spark, root, df.where(col("k") >= 10))
    val before = LakeTable.snapshot(spark, root)
    assert(before.entries.size === 4)
    // s.cust has no top-level stats arm — the contract says unprunable
    // predicate shapes conservatively keep groups IN, so every eligible
    // group compacts (compacting more than asked is content-preserving)
    val stats = LakeTable.optimize(spark, root, where = Some("s.cust > 5"))
    assert(stats.filesRewritten === 4, "nested predicate must keep all groups in scope")
    val after = LakeTable.snapshot(spark, root)
    assert(after.entries.size === 2)
    assert(LakeTable.read(spark, root).count() === 20)
    // a misspelled TOP-LEVEL name still refuses crisply (typo detection)
    val e = intercept[IllegalArgumentException](
      LakeTable.optimize(spark, root, where = Some("nope = 1")))
    assert(e.getMessage.contains("unknown column nope"), e.getMessage)
  }

  test("optimize WHERE under MOR: scoped DV materialization leaves other vectors standing") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"), deleteMode = "mor")
    LakeTable.delete(spark, root, col("k") % 7 === 0, "p") // DVs in every partition
    val before = LakeTable.snapshot(spark, root)
    assert(before.entries.count(_.dv.isDefined) >= 3, "fixture needs DVs in each partition")
    val preSum = LakeTable.read(spark, root).agg(sum("v")).head.getLong(0)

    LakeTable.optimize(spark, root, minFilesPerPartition = 99, where = Some("p = '1'"))
    val after = LakeTable.snapshot(spark, root)
    assert(after.entries.filter(_.part == "1").forall(_.dv.isEmpty),
      "scoped partition's vectors must materialize away")
    assert(after.entries.filterNot(_.part == "1").exists(_.dv.isDefined),
      "out-of-scope vectors must stand")
    assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) === preSum)
  }

  test("optimize: compacts multi-file partitions into one, contents and history intact") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    // 5 blind-insert commits (the streaming-sink accumulation shape: a
    // MERGE rewrites affected partitions, so only append grows the file
    // count) — disjoint re-keyed slices keep keys unique for the merge
    // at the end of this test
    (0 until 5).foreach { i =>
      val src = baseDf.where(col("k") % 10 === i)
        .select((col("k") + 1000L * (i + 1)).as("k"), col("p"), (col("v") + i + 1).as("v"))
      LakeTable.append(spark, root, src)
    }
    val sBefore = LakeTable.snapshot(spark, root)
    val beforeCount = sBefore.entries.size
    assert(beforeCount >= 12, s"expected >=12 files before optimize, got $beforeCount")
    val preSum = LakeTable.read(spark, root).agg(sum("v")).head.getLong(0)
    val preContents = LakeTable.read(spark, root)

    val stats = LakeTable.optimize(spark, root)
    val sAfter = LakeTable.snapshot(spark, root)
    assert(sAfter.version === sBefore.version + 1)
    // one file per partition after compaction: >=4x fewer files
    assert(sAfter.entries.size * 4 <= beforeCount,
      s"optimize left ${sAfter.entries.size} files from $beforeCount")
    assert(sAfter.entries.groupBy(_.part).forall(_._2.size == 1))
    assert(stats.filesRewritten === beforeCount)
    // contents byte-identical
    val post = LakeTable.read(spark, root)
    assert(post.agg(sum("v")).head.getLong(0) === preSum)
    assert(post.exceptAll(preContents).isEmpty && preContents.exceptAll(post).isEmpty)
    // the pre-optimize snapshot still time-travels (files not vacuumed)
    assert(LakeTable.readVersion(spark, root, sBefore.version)
      .agg(sum("v")).head.getLong(0) === preSum)
    // idempotent: a second optimize is a no-op (no new version)
    val again = LakeTable.optimize(spark, root)
    assert(again.version === sAfter.version && again.filesWritten === 0)

    // a lost commit race retries on the winner's snapshot
    var stole = false
    val steal: () => Unit = () =>
      if (!stole) {
        stole = true
        val s = LakeTable.snapshot(spark, root)
        assert(LakeTable.commit(spark, root, s.version + 1, s.meta.get, s.entries))
      }
    // force multi-file partitions again so optimize has work to do
    // (append, not merge: a merge REWRITES each affected partition back
    // to one file and the raced optimize would no-op before the steal)
    val extra = baseDf.where(col("k") < 30)
      .select((col("k") + 10000L).as("k"), col("p"), col("v"))
    val extraSum = extra.agg(sum("v")).head.getLong(0)
    LakeTable.append(spark, root, extra)
    val raced = LakeTable.optimize(spark, root, 2, 0L, 3, preCommit = steal)
    assert(stole && raced.version === LakeTable.snapshot(spark, root).version)
    assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) === preSum + extraSum)
  }

  test("data skipping: manifest min/max prunes files; results equal the unpruned read") {
    val root = freshRoot()
    // partition by century bucket (INTEGER division — `/` would be double
    // and make every id its own partition): each partition = one
    // contiguous k-range = tight per-file min/max
    val base = spark.range(1000).select(
      col("id").as("k"),
      expr("id div 100").cast("string").as("p"),
      (col("id") * 3).as("v"))
    LakeTable.init(spark, root, base, "p", statsCol = Some("v"))
    val s0 = LakeTable.snapshot(spark, root)
    assert(s0.entries.forall(e => e.min.isDefined && e.max.isDefined))

    // selective range: v in [600, 750] -> k in [200, 250] -> partition "2" only
    val kept = pruned(root, s0, col("v").between(600, 750))
    assert(kept.size < s0.entries.size,
      s"pruning kept all ${s0.entries.size} files")
    assert(kept.map(_.part).toSet === Set("2"))
    val got = LakeTable.readRange(spark, root, 600, 750)
    val expected = LakeTable.read(spark, root).where(col("v").between(600, 750))
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
    assert(got.count() === 51)

    // stats survive a merge (rewritten files get fresh min/max)
    LakeTable.merge(spark, root,
      base.where(col("k").between(200, 210)).withColumn("v", col("v") + 1), Seq("k"), "p")
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.entries.forall(e => e.min.isDefined && e.max.isDefined))
    val got2 = LakeTable.readRange(spark, root, 600, 760)
    val expected2 = LakeTable.read(spark, root).where(col("v").between(600, 760))
    assert(got2.exceptAll(expected2).isEmpty && expected2.exceptAll(got2).isEmpty)
  }

  test("readRange on a TIMESTAMP stats column keeps a file whose max equals the lower bound") {
    import spark.implicits._
    val root = freshRoot()
    val (lo, hi) = (java.sql.Timestamp.valueOf("2020-01-01 00:00:00"),
      java.sql.Timestamp.valueOf("2020-01-02 00:00:00"))
    // partition "a" ends exactly at lo; partition "b" lies wholly before it
    val df = Seq((1, "a", "2019-12-31 00:00:00"), (2, "a", "2020-01-01 00:00:00"),
      (3, "b", "2019-06-01 12:00:00")).toDF("k", "p", "t")
      .select(col("k"), col("p"), col("t").cast("timestamp").as("ts"))
    LakeTable.init(spark, root, df, "p", statsCol = Some("ts"))
    val s0 = LakeTable.snapshot(spark, root)
    assert(s0.entries.filter(_.part == "a").flatMap(_.max) === Seq("2020-01-01 00:00:00"))
    val got = LakeTable.readRange(spark, root, lo, hi)
    val expected = LakeTable.read(spark, root).where(col("ts").between(lit(lo), lit(hi)))
    assert(expected.count() === 1)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty,
      s"readRange returned ${got.count()} rows, the filtered read 1")
    // the bound still skips the file that lies wholly before it
    assert(pruned(root, s0, col("ts").between(lit(lo), lit(hi))).map(_.part).toSet === Set("a"))

    // stats cells are UTC whatever the writing session's zone: a table
    // written under America/Los_Angeles keeps its row for both faces
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val laRoot = freshRoot()
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      LakeTable.init(spark, laRoot,
        spark.range(1).select(col("id").as("k"), lit("a").as("p"), lit(t0).as("ts")),
        "p", statsCol = Some("ts"))
      assert(LakeTable.readRange(spark, laRoot, t0, t0).count() === 1)
      assert(spark.read.format("graft-lake").load(laRoot).where(col("ts") === lit(t0))
        .count() === 1)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }

  test("merge keyed on an identity partition column prunes its probe as a SELECT does") {
    Seq("cow", "mor").foreach { mode =>
      val root = freshRoot()
      val base = spark.range(1000).select(
        col("id").as("k"), (col("id") % 10).cast("int").as("p"), col("id").as("v"))
      LakeTable.init(spark, root, base, "p", deleteMode = mode)
      val total = LakeTable.snapshot(spark, root).entries.size
      // the files a SELECT over the batch's key range reads
      val scan = spark.read.format("graft-lake").load(root).where(col("p").between(3, 4))
        .queryExecution.sparkPlan
      val selected = scan.collect {
        case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
          b.inputRDD.partitions.toSeq.flatMap {
            case dp: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
              dp.inputPartitions.flatMap {
                case fp: org.apache.spark.sql.execution.datasources.FilePartition =>
                  fp.files.map(_.urlEncodedPath).toSeq
                case _ => Nil
              }
            case _ => Nil
          }
      }.flatten.distinct.size
      assert(selected > 0 && selected < total, s"$mode: fixture must prune ($selected/$total)")
      // k is no stats column: only the partition key bounds the probe
      val src = base.where(col("p").between(3, 4) && col("k") < 100)
        .withColumn("v", col("v") + 1)
      val stats = LakeTable.merge(spark, root, src, Seq("p", "k"), "p")
      assert(stats.filesProbed === selected,
        s"$mode: merge probed ${stats.filesProbed} files, the SELECT reads $selected of $total")
      val after = LakeTable.read(spark, root)
      assert(after.count() === 1000)
      assert(after.where(col("v") =!= col("k")).count() === 20)
    }
  }

  test("multi-column stats: range reads skip files on either dimension") {
    val root = freshRoot()
    // each partition is one contiguous century of k, so BOTH k and v=3k
    // have tight per-file bounds
    val base = spark.range(1000).select(
      col("id").as("k"),
      expr("id div 100").cast("string").as("p"),
      (col("id") * 3).as("v"))
    LakeTable.init(spark, root, base, "p", statsCols = Seq("v", "k"))
    val s0 = LakeTable.snapshot(spark, root)
    assert(s0.meta.get.statsCols === Seq("v", "k"))
    assert(s0.entries.forall(_.stats.size === 2))
    // first-column face unchanged: v in [600, 750] -> partition "2"
    assert(pruned(root, s0, col("v").between(600, 750)).map(_.part).toSet === Set("2"))
    // second dimension prunes independently: k in [250, 260] -> "2" too,
    // but k in [850, 930] -> partitions "8" and "9"
    assert(pruned(root, s0, col("k").between(850, 930)).map(_.part).toSet === Set("8", "9"))
    val got = LakeTable.readRangeOn(spark, root, "k", 850, 930)
    assert(got.count() === 81)
    assert(got.agg(sum("v")).head.getLong(0) === (850L to 930L).map(_ * 3).sum)
    // bounds survive the manifest round trip after a merge commit
    LakeTable.merge(spark, root,
      base.where(col("k").between(200, 205)).withColumn("v", col("v") + 1), Seq("k"), "p")
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.entries.forall(_.stats.size === 2))
    assert(LakeTable.readRangeOn(spark, root, "k", 200, 205).count() === 6)
  }

  test("string stats columns: footer-derived per-file min/max equal a scan's") {
    // r22: string statsCols come from the parquet binary footer stats
    // (unsigned lexicographic == UTF8String order) instead of a
    // post-write scan — pin exact equality against a per-file aggregate,
    // including empty strings, non-ASCII multibyte, and NULLs. Exactness
    // holds only while parquet-mr leaves footer statistics untruncated:
    // partition "L" is two ~1 KB strings sharing a 1023-byte prefix and
    // differing in their last byte, so a writer that truncates min/max
    // records the prefix (or a bumped one) and fails the equality below
    val root = freshRoot()
    val longPrefix = "L" * 1023
    val base = spark.range(300).select(
      when(col("id") % 97 === 0, lit(null))
        .when(col("id") % 89 === 0, lit(""))
        .when(col("id") % 83 === 0, concat(lit("zzé-"), col("id").cast("string")))
        .otherwise(concat(lit("id-"), lpad(col("id").cast("string"), 4, "0")))
        .as("s"),
      (col("id") % 3).cast("string").as("p"),
      col("id").as("k"))
      .unionByName(spark.range(300, 302, 1, 1).select(
        concat(lit(longPrefix), when(col("id") === 300, lit("a")).otherwise(lit("b"))).as("s"),
        lit("L").as("p"),
        col("id").as("k")))
    LakeTable.init(spark, root, base, "p", statsCols = Seq("s"))
    val s0 = LakeTable.snapshot(spark, root)
    assert(s0.entries.nonEmpty)
    val long = s0.entries.filter(_.part == "L")
    assert(long.size === 1, s"expected one partition-L file, got ${long.size}")
    assert(long.head.min.contains(longPrefix + "a") && long.head.max.contains(longPrefix + "b"),
      s"footer bounds truncated: min/max lengths ${long.head.min.map(_.length)}/" +
        s"${long.head.max.map(_.length)}, written 1024")
    s0.entries.foreach { e =>
      val r = spark.read.parquet(s"$root/${e.rel}")
        .agg(min(col("s")).cast("string"), max(col("s")).cast("string")).head
      assert(e.min === Option(r.getString(0)), s"min of ${e.rel}")
      assert(e.max === Option(r.getString(1)), s"max of ${e.rel}")
    }
    // an all-null file records (None, None), exactly like the scan path
    val root2 = freshRoot()
    LakeTable.init(spark, root2,
      spark.range(10).select(lit(null).cast("string").as("s"),
        lit("x").as("p"), col("id").as("k")),
      "p", statsCols = Seq("s"))
    val s2 = LakeTable.snapshot(spark, root2)
    assert(s2.entries.forall(e => e.min.isEmpty && e.max.isEmpty))
    // and range pruning over the string column still prunes correctly:
    // cluster the table into narrow k-ranged files so the string ranges
    // of most files provably miss the probe range
    LakeTable.optimize(spark, root, minFilesPerPartition = 1, maxRecordsPerFile = 10,
      sortCols = Seq("k"))
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.entries.size > 3, s"fixture needs a multi-file layout, got ${s1.entries.size}")
    val hit = pruned(root, s1, col("s").between("id-0000", "id-0049"))
    assert(hit.nonEmpty && hit.size < s1.entries.size,
      s"string range pruning kept ${hit.size} of ${s1.entries.size} files")
  }

  test("per-file stats stay correct when one task writes many partition dirs") {
    // regression: 64 partition values over far fewer write tasks means a
    // task emits the SAME part-<task>-<uuid> file name into several
    // partition dirs; stats keyed by bare file name collided and every
    // file inherited some other file's bounds. Each partition here is one
    // contiguous k-range, so the recorded bounds are predictable per file.
    val root = freshRoot()
    val base = spark.range(6400).select(
      col("id").as("k"),
      expr("id div 100").cast("string").as("p"),
      col("id").as("v"))
    LakeTable.init(spark, root, base, "p", statsCol = Some("v"))
    val s0 = LakeTable.snapshot(spark, root)
    assert(s0.entries.size === 64)
    // every entry's recorded min/max must equal ITS OWN file's bounds
    s0.entries.foreach { e =>
      val lo = e.part.toLong * 100
      assert(e.min.contains(lo.toString) && e.max.contains((lo + 99).toString),
        s"partition ${e.part} recorded [${e.min},${e.max}], expected [$lo,${lo + 99}]")
    }
    // and a narrow range read must keep exactly one file
    val kept = pruned(root, s0, col("v").between(1234, 1299))
    assert(kept.map(_.part).toSet === Set("12"))
  }

  test("clustered optimize: sort-on-rewrite restores manifest min/max skipping") {
    // one lake partition, four appends of INTERLEAVED key slices (k%4):
    // every file spans ~the full key range, so range pruning keeps all of
    // them. optimize(sortCols=k) range-partitions + sorts the rewrite —
    // each output file then covers one tight slice and pruning bites.
    val root = freshRoot()
    def slice(i: Int) = spark.range(1000).where(col("id") % 4 === i)
      .select(col("id").as("k"), lit("all").as("p"), (col("id") * 2).as("v"))
    LakeTable.init(spark, root, slice(0), "p", statsCol = Some("k"))
    (1 to 3).foreach(i => LakeTable.append(spark, root, slice(i)))
    val s0 = LakeTable.snapshot(spark, root)
    assert(s0.entries.size === 4)
    // interleaved slices: no file can be skipped for a mid-range probe
    assert(pruned(root, s0, col("k").between(100, 149)).size === 4)
    val preSum = LakeTable.read(spark, root).agg(sum("v")).head.getLong(0)

    LakeTable.optimize(spark, root, minFilesPerPartition = 2,
      maxRecordsPerFile = 250L, sortCols = Seq("k"))
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.entries.size >= 2, "maxRecordsPerFile should split the partition")
    // clustered files: disjoint k-ranges -> a 50-wide probe keeps few
    val kept = pruned(root, s1, col("k").between(100, 149))
    assert(kept.size < s1.entries.size,
      s"clustered optimize did not restore skipping: kept ${kept.size}/${s1.entries.size}")
    // contents untouched; the pruned read equals the plain filtered read
    assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) === preSum)
    val got = LakeTable.readRange(spark, root, 100, 149)
    assert(got.count() === 50 && got.agg(sum("v")).head.getLong(0) === (100L to 149L).map(_ * 2).sum)
  }

  test("schema evolution: source with added columns widens the table; old rows read NULL") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    val src = baseDf.where(col("k") % 2 === 0)
      .withColumn("v", col("v") + 1)
      .withColumn("w", col("k") * 2) // the NEW column
    val stats = LakeTable.merge(spark, root, src, Seq("k"), "p")
    assert(stats.version === 2)
    val got = LakeTable.read(spark, root)
    assert(got.schema.fieldNames.toSeq === Seq("k", "p", "v", "w"))
    // updated rows carry w; carried/survivor rows read NULL for it
    assert(got.where(col("k") % 2 === 0 && col("w") =!= col("k") * 2).count() === 0)
    assert(got.where(col("k") % 2 === 1 && col("w").isNotNull).count() === 0)
    assert(got.count() === 300)
    // time travel to v1 keeps the ORIGINAL schema
    assert(LakeTable.readVersion(spark, root, 1).schema.fieldNames.toSeq === Seq("k", "p", "v"))
  }

  test("tableChanges: row-level CDC between versions from the manifests alone") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    // v2: update k<10 (+7), insert 1000..1004; v3: delete k in [20,25)
    val src = baseDf.where(col("k") < 10).withColumn("v", col("v") + 7)
      .unionByName(spark.range(1000, 1005).select(
        col("id").as("k"), lit("9").as("p"), lit(-1L).as("v")))
    LakeTable.merge(spark, root, src, Seq("k"), "p")
    LakeTable.delete(spark, root, col("k").between(20, 24), "p")

    val cdc12 = LakeTable.tableChanges(spark, root, 1, 2, Seq("k")).cache()
    assert(cdc12.where(col("_change_type") === "insert").count() === 5)
    assert(cdc12.where(col("_change_type") === "update_preimage").count() === 10)
    assert(cdc12.where(col("_change_type") === "update_postimage").count() === 10)
    assert(cdc12.where(col("_change_type") === "delete").count() === 0)
    // unchanged neighbors in rewritten partitions are suppressed
    assert(cdc12.count() === 25)
    // post-images carry the new values
    assert(cdc12.where(col("_change_type") === "update_postimage")
      .agg(sum("v")).head.getLong(0) === (0 until 10).map(_ * 10 + 7).sum)

    val cdc23 = LakeTable.tableChanges(spark, root, 2, 3, Seq("k"))
    assert(cdc23.where(col("_change_type") === "delete").count() === 5)
    assert(cdc23.count() === 5)

    // the full span composes: v1 -> v3 nets updates + inserts + deletes
    val cdc13 = LakeTable.tableChanges(spark, root, 1, 3, Seq("k"))
    assert(cdc13.where(col("_change_type") === "insert").count() === 5)
    assert(cdc13.where(col("_change_type") === "delete").count() === 5)
    cdc12.unpersist()
  }

  test("CDC reads only the files that changed, never the table") {
    // the scale contract pinned at PLAN level: tableChanges' input scan
    // must list exactly the files present in ONE version (removed +
    // added), not the carried majority — on a 100 TB table the feed cost
    // is the changed slice's bytes
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    // touch ONE partition: all of partition "1" (k % 3 == 1) carries
    LakeTable.merge(spark, root,
      baseDf.where(col("k") === 0L).withColumn("v", col("v") + 1), Seq("k"), "p")
    val e1 = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    val feed = LakeTable.tableChanges(spark, root, 1, 2, Seq("k"))
    val scanned = feed.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }.flatten.map(f => new org.apache.hadoop.fs.Path(f).toUri.getPath).toSet
    val rootPath = new org.apache.hadoop.fs.Path(root).toUri.getPath
    val scannedRel = scanned.map(_.stripPrefix(rootPath).stripPrefix("/"))
    // changed slice = the one rewritten partition's old file + its
    // replacement; the two carried partitions' files must NOT be scanned
    val carried = e1.filter(r => scannedRel.forall(_ != r))
    assert(scannedRel.size === 2, s"CDC scanned ${scannedRel.size} files: $scannedRel")
    assert(carried.size === 2, s"expected 2 carried files unscanned, got ${carried.size}")
  }

  test("readPartitions: manifest-level partition pruning, null partition addressable") {
    val root = freshRoot()
    // baseDf plus a null-keyed partition
    val withNull = baseDf.unionByName(
      spark.range(900, 910).select(col("id").as("k"), lit(null).cast("string").as("p"),
        lit(-5L).as("v")))
    LakeTable.init(spark, root, withNull, "p")
    val one = LakeTable.readPartitions(spark, root, Set("1"))
    assert(one.count() === 100 && one.where(col("p") =!= "1").count() === 0)
    // plan-level: only partition "1"'s file is listed
    val scanned = one.queryExecution.analyzed.collect {
      case r: org.apache.spark.sql.execution.datasources.LogicalRelation =>
        r.relation.asInstanceOf[org.apache.spark.sql.execution.datasources.HadoopFsRelation]
          .location.inputFiles.toSeq
    }.flatten
    assert(scanned.size === 1 && scanned.head.contains("__part=1"),
      s"expected one __part=1 file, scanned $scanned")
    // the null partition is addressable via the sentinel
    val nulls = LakeTable.readPartitions(spark, root, Set(LakeTable.NullPartition))
    assert(nulls.count() === 10 && nulls.where(col("p").isNotNull).count() === 0)
    // empty selection = empty (schema-preserving) frame
    assert(LakeTable.readPartitions(spark, root, Set("no-such")).count() === 0)
  }

  test("transactional append: (appId, version) replay is a no-op; watermark survives other commits") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    val batch = spark.range(1000, 1010).select(col("id").as("k"), lit("9").as("p"), lit(1L).as("v"))
    val s1 = LakeTable.append(spark, root, batch, txnAppId = Some("job-a"), txnVersion = 0L)
    assert(s1.filesWritten > 0 && LakeTable.read(spark, root).count() === 310)
    // exact replay: recognized, nothing written, version unchanged
    val s2 = LakeTable.append(spark, root, batch, txnAppId = Some("job-a"), txnVersion = 0L)
    assert(s2.version === s1.version && s2.filesWritten === 0)
    assert(LakeTable.read(spark, root).count() === 310)
    // an unrelated commit (merge) carries the watermark forward
    LakeTable.merge(spark, root,
      baseDf.where(col("k") === 1L).withColumn("v", col("v") + 1), Seq("k"), "p")
    val s3 = LakeTable.append(spark, root, batch, txnAppId = Some("job-a"), txnVersion = 0L)
    assert(s3.filesWritten === 0 && LakeTable.read(spark, root).count() === 310)
    // a HIGHER version from the same app commits; another app's version 0 too
    assert(LakeTable.append(spark, root, batch, txnAppId = Some("job-a"), txnVersion = 1L)
      .filesWritten > 0)
    assert(LakeTable.append(spark, root, batch, txnAppId = Some("job-b"), txnVersion = 0L)
      .filesWritten > 0)
    assert(LakeTable.read(spark, root).count() === 330)
  }

  test("changesSince: per-commit walk keeps events the net diff cancels") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    // v2 inserts keys 1000..1004; v3 deletes two of them again
    LakeTable.merge(spark, root,
      spark.range(1000, 1005).select(col("id").as("k"), lit("9").as("p"), lit(-1L).as("v")),
      Seq("k"), "p")
    LakeTable.delete(spark, root, col("k").isin(1000L, 1001L), "p")

    val walk = LakeTable.changesSince(spark, root, 1L, keyCols = Seq("k")).cache()
    assert(walk.columns.toSeq === Seq("k", "p", "v", "_change_type", "_commit_version"))
    // insert-then-delete of the same key shows BOTH events...
    assert(walk.where(col("k") === 1000L && col("_change_type") === "insert"
      && col("_commit_version") === 2).count() === 1)
    assert(walk.where(col("k") === 1000L && col("_change_type") === "delete"
      && col("_commit_version") === 3).count() === 1)
    // ...where the net v1->v3 diff cancels it entirely
    val net = LakeTable.tableChanges(spark, root, 1, 3, Seq("k"))
    assert(net.where(col("k") === 1000L).count() === 0)
    assert(walk.where(col("_commit_version") === 2).count() === 5)
    assert(walk.where(col("_commit_version") === 3).count() === 2)
    walk.unpersist()
  }

  test("processChanges: initial snapshot, incremental drains, crash replay") {
    val root = freshRoot()
    val ckpt = Files.createTempDirectory("graft-cdc-ckpt").toString
    LakeTable.init(spark, root, baseDf, "p")
    var seen = Vector.empty[(String, Long)] // (_change_type, count) per drain

    def drain() = LakeTable.processChanges(spark, root, ckpt, Seq("k")) { df =>
      df.groupBy("_change_type").count().collect()
        .foreach(r => seen :+= (r.getString(0), r.getLong(1)))
    }

    // first call: the whole current snapshot arrives as inserts
    assert(drain() === Some((0L, 1L)))
    assert(seen === Vector(("insert", 300L)))
    // nothing new -> the callback is not invoked at all
    seen = Vector.empty
    assert(drain() === None && seen.isEmpty)
    // two commits, one drain: both versions arrive in one feed
    LakeTable.merge(spark, root,
      baseDf.where(col("k") < 10).withColumn("v", col("v") + 1), Seq("k"), "p")
    LakeTable.delete(spark, root, col("k") === 5L, "p")
    assert(drain() === Some((1L, 3L)))
    assert(seen.toMap === Map("update_preimage" -> 10L, "update_postimage" -> 10L,
      "delete" -> 1L))
    // crash inside f: the offset must NOT advance -> same slice replays
    LakeTable.merge(spark, root,
      spark.range(2000, 2003).select(col("id").as("k"), lit("0").as("p"), lit(0L).as("v")),
      Seq("k"), "p")
    intercept[RuntimeException] {
      LakeTable.processChanges(spark, root, ckpt, Seq("k"))(_ => sys.error("consumer crash"))
    }
    seen = Vector.empty
    assert(drain() === Some((3L, 4L)))
    assert(seen === Vector(("insert", 3L)))
  }

  test("processChanges: versioned offset commit; legacy single-file offset honored") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    // a pre-versioned-format checkpoint: consumer already drained v1
    val ckpt = Files.createTempDirectory("graft-cdc-legacy").toString
    Files.write(java.nio.file.Paths.get(ckpt, "offset"), "1".getBytes("UTF-8"))
    LakeTable.merge(spark, root,
      baseDf.where(col("k") === 0L).withColumn("v", lit(99L)), Seq("k"), "p")
    var types = Vector.empty[String]
    val w = LakeTable.processChanges(spark, root, ckpt, Seq("k")) { df =>
      types = df.select("_change_type").distinct().collect().map(_.getString(0)).toVector.sorted
    }
    // resumed PAST the legacy offset (an incremental window, not a
    // re-bootstrapped initial snapshot of the whole table)
    assert(w === Some((1L, 2L)))
    assert(types === Vector("update_postimage", "update_preimage"))
    // the commit landed under a versioned name and superseded the legacy
    // file — at no point did the directory hold zero offsets, so a crash
    // anywhere in the commit can only replay, never forget the checkpoint
    val names = new java.io.File(ckpt).list().toSet
    assert(names.contains("offset-2"), s"expected offset-2 in $names")
    assert(!names.contains("offset"), s"legacy offset not cleaned: $names")
  }

  test("stats-informed MERGE: narrow batch probes and rewrites a stats-pruned file subset") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    // split every partition into many small files, clustered on k so each
    // file covers a tight non-overlapping key slice (the layout a 100 TB
    // fact table converges to under clustered OPTIMIZE)
    LakeTable.optimize(spark, root, minFilesPerPartition = 1, maxRecordsPerFile = 20,
      sortCols = Seq("k"))
    val s1 = LakeTable.snapshot(spark, root)
    val total = s1.entries.size
    assert(total >= 9, s"fixture needs many files, got $total")

    // narrow upsert: keys 0..4 — bounds [0,4] intersect only the lowest
    // key slice of each touched partition
    val src = baseDf.where(col("k") < 5).withColumn("v", col("v") + 1000L)
    val stats = LakeTable.merge(spark, root, src, Seq("k"), "p")
    assert(stats.filesProbed < total,
      s"probe must be stats-pruned: probed ${stats.filesProbed} of $total files")
    assert(stats.filesRewritten <= stats.filesProbed,
      "only probed (stats-intersecting) files may rewrite")
    // stats-disjoint files inside the affected partitions carry by path
    val affectedParts = Set("0", "1", "2")
    val affectedFiles = s1.entries.count(e => affectedParts.contains(e.part))
    assert(stats.filesRewritten < affectedFiles,
      s"expected file-level COW inside partitions: rewrote ${stats.filesRewritten} of $affectedFiles")

    // results identical to the semantic (unpruned) merge
    val expected = src.unionByName(baseDf.where(col("k") >= 5))
    val got = LakeTable.read(spark, root).select("k", "p", "v")
    assert(got.count() === 300)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)

    // an empty source probes NOTHING (no key can equi-match) and commits
    // nothing
    val v1 = LakeTable.snapshot(spark, root).version
    val empty = LakeTable.merge(spark, root, baseDf.where(lit(false)), Seq("k"), "p")
    assert(empty.filesProbed === 0 && empty.filesRewritten === 0 && empty.filesWritten === 0)
    assert(empty.version === v1 && LakeTable.snapshot(spark, root).version === v1)
    assert(LakeTable.read(spark, root).count() === 300)
  }

  test("stats-informed DELETE: predicate bounds prune the probe and the rewrite set") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.optimize(spark, root, minFilesPerPartition = 1, maxRecordsPerFile = 20,
      sortCols = Seq("k"))
    val total = LakeTable.snapshot(spark, root).entries.size
    val stats = LakeTable.delete(spark, root, col("k").between(10L, 14L), "p")
    assert(stats.filesProbed < total,
      s"probe must be predicate-pruned: probed ${stats.filesProbed} of $total files")
    assert(stats.filesRewritten <= stats.filesProbed)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 295)
    assert(got.where(col("k").between(10L, 14L)).count() === 0)

    // a predicate shape the extractor does not recognize scans everything
    // (conservative) and still deletes correctly
    val s2 = LakeTable.snapshot(spark, root).entries.size
    val odd = LakeTable.delete(spark, root, col("k") % 100 === 99L, "p")
    assert(odd.filesProbed === s2, "unrecognized predicate must disable pruning, not break it")
    assert(LakeTable.read(spark, root).where(col("k") % 100 === 99L).count() === 0)
  }

  /** The rels of `entries` the shared DML/scan pruner keeps for `c` on a
    * table whose stats columns are every column of `ddl` but `p`.
    */
  private def keptBy(ddl: String, entries: Seq[(String, Seq[(String, String)])])(
      c: org.apache.spark.sql.Column): Set[String] = {
    val schema = org.apache.spark.sql.types.StructType.fromDDL(s"p STRING, $ddl")
    val meta = LakeTable.TableMeta(schema, "p", schema.fieldNames.toSeq.tail)
    val es = entries.map { case (rel, st) =>
      LakeTable.Entry("0", rel, st.map { case (mn, mx) => (Option(mn), Option(mx)) })
    }
    val conjuncts = graft.sources.lake.LakeFileIndex.resolvedConjuncts(
      spark, schema, org.apache.spark.sql.GraftColumnBridge.expression(spark, c))
    val keep = new graft.sources.lake.LakeFileIndex(spark, "/graft-prune-nonexistent", meta, es)
      .entryFilter(conjuncts)
    es.filter(keep).map(_.rel).toSet
  }

  test("DML pruner: conjuncts intersect; unrecognized shapes keep every file") {
    val all = Set("k0-3", "k5", "k6-9", "k10-20", "nostats")
    def kept(c: org.apache.spark.sql.Column) = keptBy("k BIGINT, s STRING, d DATE", Seq(
      "k0-3" -> Seq(("0", "3"), ("a", "c"), ("2023-01-01", "2023-06-01")),
      "k5" -> Seq(("5", "5"), ("x", "x"), ("2024-01-01", "2024-01-01")),
      "k6-9" -> Seq(("6", "9"), ("d", "m"), ("2024-02-01", "2024-03-01")),
      "k10-20" -> Seq(("10", "20"), ("n", "z"), ("2024-04-01", "2024-05-01")),
      "nostats" -> Seq((null, null), (null, null), (null, null))))(c)
    assert(kept(col("k") === 5L) === Set("k5", "nostats"))
    assert(kept(col("k") >= 3L && col("k") < 9L) === Set("k0-3", "k5", "k6-9", "nostats"))
    assert(kept(col("k").between(2L, 7L) && col("s") === "x") === Set("k5", "nostats"))
    // attr on the right; strict bounds widen to inclusive (never narrower)
    assert(kept(lit(4L) < col("k")) === all - "k0-3")
    // OR, functions, unknown columns: no constraint
    assert(kept(col("k") === 1L || col("k") === 2L) === all)
    assert(kept(abs(col("k")) === 1L) === all)
    assert(kept(col("zz") === 1L) === all)
    // a date literal renders as its stats do ("2024-01-01") and prunes
    assert(kept(col("d") === java.sql.Date.valueOf("2024-01-01")) === Set("k5", "nostats"))
    // tighter conjunct wins on each side
    assert(kept(col("k") >= 1L && col("k") >= 6L && col("k") <= 9L && col("k") <= 7L) ===
      Set("k6-9", "nostats"))
    // an IN list prunes on its values' envelope: the files holding 5 and 6 stay
    assert(kept(col("k").isin(5L, 6L)) === Set("k5", "k6-9", "nostats"))
  }

  test("DML pruner: dates past year 9999 keep their files, as stat or as literal") {
    import java.time.LocalDate
    val farDay = LocalDate.of(10000, 1, 1)
    // the stat a writer records for it: Spark's cast to string
    val far = org.apache.spark.sql.catalyst.expressions.Cast(
      org.apache.spark.sql.catalyst.expressions.Literal(
        farDay.toEpochDay.toInt, org.apache.spark.sql.types.DateType),
      org.apache.spark.sql.types.StringType, Some("UTC")).eval().toString
    def kept(c: org.apache.spark.sql.Column) = keptBy("d DATE", Seq(
      "mixed" -> Seq(("2024-06-01", far)),
      "early" -> Seq(("2024-01-01", "2024-01-31"))))(c)
    // a max past 9999 still lies above every in-range bound
    assert(kept(col("d") >= java.sql.Date.valueOf("2024-03-01")) === Set("mixed"))
    // an IN list holding the far date keeps the file that may hold it
    assert(kept(col("d").isin(LocalDate.of(2024, 1, 10), farDay)) === Set("mixed", "early"))
  }

  test("DML pruner: cross-width floats bound at the widened value; NaN and Infinity") {
    def kept(c: org.apache.spark.sql.Column) = keptBy("x DOUBLE, f FLOAT, k BIGINT", Seq(
      "x0.1" -> Seq(("0.1", "0.1"), ("0.1", "0.1"), ("5", "5")),
      "x0.1f" -> Seq(("0.10000000149011612", "0.10000000149011612"), ("1.5", "2.0"), ("1", "2")),
      "x0.5" -> Seq(("0.5", "0.5"), ("0.5", "1.0"), ("6", "9")),
      "x3.5-inf" -> Seq(("3.5", "Infinity"), ("-1.0", "0.0"), ("10", "12")),
      "x1-nan" -> Seq(("1.0", "NaN"), ("3.0", "NaN"), ("20", "30")),
      "xnan" -> Seq(("NaN", "NaN"), ("4.0", "4.0"), ("40", "40"))))(c)
    val all = Set("x0.1", "x0.1f", "x0.5", "x3.5-inf", "x1-nan", "xnan")
    // a Float literal vs a DOUBLE column compares the float-widened
    // 0.10000000149…, so the pruner bounds there: the file holding the
    // widened value is kept, the one holding only double 0.1 is not
    assert(kept(col("x") === 0.1f) === Set("x0.1f"))
    // a Double literal vs a FLOAT column casts the column: no constraint
    assert(kept(col("f") === 0.1) === all)
    // exact-type and integral-widening literals bound
    assert(kept(col("x") === 0.5) === Set("x0.5"))
    assert(kept(col("f") >= 1.5f) === Set("x0.1f", "x1-nan", "xnan"))
    assert(kept(col("k") === 5) === Set("x0.1")) // Int vs BIGINT: exact
    // NaN and ±Infinity bound in cmpStat order (NaN greatest, as Spark
    // sorts and compares it): every file holding a NaN is kept
    assert(kept(col("x") === Double.NaN) === Set("x1-nan", "xnan"))
    // NaN <= Infinity is false in Spark: only an all-NaN file drops
    assert(kept(col("x") <= Double.PositiveInfinity) === all - "xnan")
    assert(kept(col("x") >= Double.NegativeInfinity) === all)
  }

  test("delete with a cross-width float literal still rewrites the matching file") {
    // regression (round-15 advice): x is DOUBLE holding the float-widened
    // 0.1f (0.10000000149…). `delete(x === lit(0.1f))` matches that row at
    // runtime, but its rendered bound "0.1" hashes/compares to double 0.1
    // — both the bloom probe and the stats interval would wrongly prune
    // the file and the delete would silently miss. The literal guard must
    // disable pruning instead.
    import spark.implicits._
    val rows = Seq((1L, "a", 0.1f.toDouble), (2L, "a", 2.5), (3L, "b", 3.5))
    val df = rows.toDF("k", "p", "x")
    val root = freshRoot()
    LakeTable.init(spark, root, df, "p", statsCol = Some("x"), bloomCols = Seq("x"))
    val stats = LakeTable.delete(spark, root, col("x") === lit(0.1f), "p")
    assert(stats.filesRewritten >= 1, s"pruning must not skip the matching file: $stats")
    val got = LakeTable.read(spark, root)
    assert(got.count() === 2, "the float-widened row must actually be deleted")
    assert(got.where(col("k") === 1L).count() === 0)
  }

  test("a table root whose path holds a space and a '%' serves every verb") {
    import spark.implicits._
    val d = Files.createTempDirectory("graft lake %20").toFile
    d.deleteOnExit()
    val root = s"${d.getAbsolutePath}/t 50%25 off"
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.append(spark, root, baseDf.select((col("k") + 1000L).as("k"), col("p"), col("v")))
    val cow = LakeTable.delete(spark, root, col("k") < 10L, "p")
    assert(cow.filesRewritten > 0)
    LakeTable.alterTable(spark, root, deleteMode = Some("mor"))
    LakeTable.delete(spark, root, col("k") >= 1290L, "p")
    assert(LakeTable.snapshot(spark, root).entries.exists(_.dv.isDefined),
      "the mor delete records deletion vectors")
    val want = ((10L until 300L) ++ (1000L until 1290L)).toSet
    def keys = LakeTable.read(spark, root).select("k").as[Long].collect()
    assert(keys.length === want.size && keys.toSet === want)
    assert(LakeTable.vacuum(spark, root, retainMillis = 0L) > 0)
    assert(keys.length === want.size && keys.toSet === want)
  }

  test("cmpStat: non-finite stat renderings compare in double order instead of throwing") {
    import org.apache.spark.sql.types.DoubleType
    assert(LakeStats.compare(DoubleType, "Infinity", "3.5") > 0)
    assert(LakeStats.compare(DoubleType, "-Infinity", "3.5") < 0)
    assert(LakeStats.compare(DoubleType, "NaN", "Infinity") > 0) // NaN greatest (Spark sort order)
    assert(LakeStats.compare(DoubleType, "-0.0", "0.0") === 0)
    // end-to-end: a file whose stats include Infinity prunes without error
    import spark.implicits._
    val root = freshRoot()
    val df = Seq((1L, "a", 1.5), (2L, "a", Double.PositiveInfinity), (3L, "b", 7.5))
      .toDF("k", "p", "x")
    LakeTable.init(spark, root, df, "p", statsCol = Some("x"))
    val got = LakeTable.readRange(spark, root, 1.0, 2.0)
    assert(got.select("k").as[Long].collect().toSet === Set(1L))
  }

  test("vacuum returns a file count: reclaimed data files plus sidecar files, single unit") {
    val root = freshRoot()
    val df = baseDf
    LakeTable.init(spark, root, df, "p", statsCol = Some("k"), bloomCols = Seq("k"))
    // rewrite everything so the whole v1 batch (data + its sidecar dir) dies
    LakeTable.merge(spark, root, df.withColumn("v", col("v") + 1), Seq("k"), "p")
    val live = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    // expected = dead data files + files inside dead sidecar dirs
    val rootDir = new java.io.File(new java.net.URI(s"file:$root"))
    // non-hidden files only: the Hadoop local FS hides its .crc shadows,
    // so vacuum never lists (or counts) them
    def filesUnder(d: java.io.File): Seq[java.io.File] =
      if (!d.exists) Nil
      else d.listFiles.toSeq.filterNot(_.getName.startsWith("."))
        .flatMap(f => if (f.isDirectory) filesUnder(f) else Seq(f))
    val deadData = filesUnder(new java.io.File(rootDir, "data"))
      .count { f =>
        val rel = rootDir.toPath.relativize(f.toPath).toString
        !live.contains(rel)
      }
    val liveBatches = live.map(_.split('/')(1))
    val deadSidecar = new java.io.File(rootDir, "index").listFiles.toSeq
      .filter(d => d.isDirectory && !liveBatches.contains(d.getName))
      .map(d => filesUnder(d).size).sum
    assert(deadSidecar > 0, "fixture must orphan at least one sidecar dir")
    val removed = LakeTable.vacuum(spark, root, retainMillis = 0)
    assert(removed === deadData + deadSidecar,
      s"vacuum counted $removed, expected $deadData data + $deadSidecar sidecar files")
  }

  test("N concurrent writers: all land, versions dense, state equals sequential application") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    val n = 4
    // disjoint key slices (k % n == i) — every row updated by exactly one
    // writer, so the expected final state is order-independent
    def batch(i: Int) = baseDf.where(col("k") % n === i).withColumn("v", col("v") + 1000L + i)
    val errors = java.util.Collections.synchronizedList(new java.util.ArrayList[Throwable]())
    val threads = (0 until n).map { i =>
      new Thread {
        override def run(): Unit =
          try LakeTable.merge(spark, root, batch(i), Seq("k"), "p", maxRetries = n * 2)
          catch { case t: Throwable => errors.add(t) }
      }
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    assert(errors.isEmpty, s"writer failed: ${if (errors.isEmpty) "" else errors.get(0)}")
    // dense versions: each of the n commits landed exactly once
    assert(LakeTable.snapshot(spark, root).version === 1L + n)
    val expected = (0 until n).map(batch).reduce(_ unionByName _)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 300)
    assert(got.exceptAll(expected).isEmpty && expected.exceptAll(got).isEmpty)
  }

  test("commit is atomic create-if-absent: N racing publishers of one version, exactly one wins") {
    // the round-15 flake, root-caused: the LOCAL filesystem's rename
    // no-overwrite check is check-then-act, so two same-version commits
    // racing through it could BOTH report success and the second
    // silently overwrote the first — a lost commit with no error. The
    // hard-link publish closes the race at the syscall level; this
    // stress pins exactly-one-winner across 40 contested versions
    // (16 threads on a start barrier each — the old path lost a commit
    // every few hundred attempts under this load).
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf.limit(10), "p")
    val meta = LakeTable.snapshot(spark, root).meta.get
    (2L to 41L).foreach { v =>
      val threads = 16
      val barrier = new java.util.concurrent.CyclicBarrier(threads)
      val wins = new java.util.concurrent.atomic.AtomicInteger(0)
      val ts = (0 until threads).map { i =>
        new Thread {
          override def run(): Unit = {
            barrier.await()
            if (LakeTable.commit(spark, root, v, meta,
                Seq(LakeTable.Entry(s"w$i", s"data/x/$i.parquet", Nil))))
              wins.incrementAndGet()
          }
        }
      }
      ts.foreach(_.start()); ts.foreach(_.join())
      assert(wins.get === 1, s"version $v: ${wins.get} writers believed they committed")
    }
    assert(LakeTable.snapshot(spark, root).version === 41L)
  }

  test("vacuum-vs-reader: time travel to a vacuumed snapshot fails crisply, current read unaffected") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")
    // rewrite every partition so ALL v1 files become unreferenced
    LakeTable.merge(spark, root, baseDf.withColumn("v", col("v") + 1), Seq("k"), "p")
    assert(LakeTable.readVersion(spark, root, 1).count() === 300) // pre-vacuum: time travel works
    LakeTable.vacuum(spark, root, retainMillis = 0)
    val e = intercept[IllegalArgumentException](LakeTable.readVersion(spark, root, 1))
    assert(e.getMessage.contains("has been vacuumed"), s"got: ${e.getMessage}")
    // the current snapshot is never affected by vacuum
    assert(LakeTable.read(spark, root).count() === 300)
  }

  test("vacuum keepVersions: the last N snapshots survive, older ones reclaim crisply") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p")                                   // v1
    LakeTable.merge(spark, root, baseDf.withColumn("v", col("v") + 1), Seq("k"), "p")  // v2
    LakeTable.merge(spark, root, baseDf.withColumn("v", col("v") + 2), Seq("k"), "p")  // v3
    // keepVersions=2 pins v2 and v3: v2 still time-travels after a
    // 0-retention vacuum; v1 is reclaimed and refuses crisply
    val removed = LakeTable.vacuum(spark, root, retainMillis = 0, keepVersions = 2)
    assert(removed > 0, "v1's files must be reclaimed")
    assert(LakeTable.readVersion(spark, root, 2).count() === 300)
    assert(LakeTable.readVersion(spark, root, 3).count() === 300)
    val e = intercept[IllegalArgumentException](LakeTable.readVersion(spark, root, 1))
    assert(e.getMessage.contains("has been vacuumed"), s"got: ${e.getMessage}")
    // default (head-only) vacuum then reclaims v2's files too
    LakeTable.vacuum(spark, root, retainMillis = 0)
    intercept[IllegalArgumentException](LakeTable.readVersion(spark, root, 2))
    assert(LakeTable.read(spark, root).count() === 300)
    intercept[IllegalArgumentException](
      LakeTable.vacuum(spark, root, retainMillis = 0, keepVersions = 0))
  }

  test("manifest header: stats column names containing the ',' delimiter round-trip") {
    val meta = LakeTable.TableMeta(
      org.apache.spark.sql.types.StructType.fromDDL("`a,b` INT, c INT"),
      "c", Seq("a,b", "c"), txns = Map("app:1" -> 7L))
    val entries = Seq(
      LakeTable.Entry("1", "data/b/x.parquet", Seq((Some("1"), Some("2")), (None, None))))
    val (m2, e2) = LakeTable.parseManifest(LakeTable.renderManifest(meta, entries))
    assert(m2.statsCols === Seq("a,b", "c"))
    assert(m2.txns === Map("app:1" -> 7L))
    assert(m2.partitionCol === "c" && m2.schema === meta.schema)
    assert(e2 === entries)
  }

  test("manifest format gate: a future format fails named; legacy headers still parse") {
    val meta = LakeTable.TableMeta(
      org.apache.spark.sql.types.StructType.fromDDL("a INT, p STRING"), "p", Nil)
    val entries = Seq(LakeTable.Entry("1", "data/p=1/x.parquet", Nil))
    val current = LakeTable.renderManifest(meta, entries, Some(1234L))
    // fully-inline manifests keep claiming format 1 — readable by
    // pre-segment parsers — even though this reader supports 2
    assert(current.startsWith("#format=1\n"))
    assert(current.contains("#commitTime=1234"))
    // a NEWER format is refused with a version-gate message, not a parse crash
    val e = intercept[IllegalArgumentException](
      LakeTable.parseManifest(current.replace(
        "#format=1", s"#format=${LakeTable.ManifestFormat + 1}")))
    assert(e.getMessage.contains("newer than this reader"), s"got: ${e.getMessage}")
    // manifests written before the header existed (no #format, no
    // #commitTime) parse as format 1
    val legacy = current.linesIterator
      .filterNot(l => l.startsWith("#format") || l.startsWith("#commitTime"))
      .mkString("\n")
    val (m2, e2) = LakeTable.parseManifest(legacy)
    assert(m2.partitionCol === "p" && e2 === entries)
  }

  test("segmented manifests: O(batch) commits carry intact segments by reference") {
    val (thr, maxs) = (LakeTable.SegmentThreshold, LakeTable.MaxSegments)
    LakeTable.SegmentThreshold = 4
    try {
      val root = freshRoot()
      val base = spark.range(64).select(
        col("id").as("k"), (col("id") % 8).cast("string").as("p"), (col("id") * 10).as("v"))
      // v1: 8 partition files > threshold → segmented from birth
      LakeTable.init(spark, root, base, "p", statsCols = Seq("k"))
      def manifestText(v: Long): String = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(root, "_manifests", s"v$v.manifest")), "UTF-8")
      def refsOf(v: Long): Seq[String] =
        manifestText(v).linesIterator.filter(_.startsWith("@seg=")).toSeq
      assert(manifestText(1).startsWith("#format=2\n"))
      val v1refs = refsOf(1)
      assert(v1refs.size === 1)
      // v2 append into a DISJOINT partition: v1's segment is carried
      // VERBATIM (same @seg line — zero I/O for it), the batch becomes
      // one new segment
      val extra = spark.range(100, 116).select(
        col("id").as("k"), lit("9").as("p"), (col("id") * 10).as("v"))
      LakeTable.append(spark, root, extra)
      val v2refs = refsOf(2)
      assert(v2refs.size === 2)
      assert(v2refs.contains(v1refs.head), "intact segment must carry by reference")
      // reads resolve references
      assert(LakeTable.read(spark, root).count() === 80)
      assert(LakeTable.read(spark, root).agg(sum("v")).head.getLong(0) ===
        ((0 until 64) ++ (100 until 116)).map(_ * 10L).sum)
      // a COW delete inside v1's partitions: ONLY that segment breaks —
      // its survivors migrate, the untouched append segment still
      // carries by reference
      LakeTable.delete(spark, root, col("k") === 0, "p")
      val v3refs = refsOf(3)
      val appendSeg = v2refs.filterNot(_ == v1refs.head).head
      assert(v3refs.contains(appendSeg), "untouched segment must keep carrying")
      assert(!v3refs.contains(v1refs.head), "broken segment must be replaced")
      assert(LakeTable.read(spark, root).count() === 79)
      // time travel still resolves the replaced segment
      assert(LakeTable.readVersion(spark, root, 1).count() === 64)
      assert(LakeTable.readVersion(spark, root, 2).count() === 80)
      // MaxSegments: commits fold the ref list instead of growing it
      LakeTable.MaxSegments = 3
      (0 until 4).foreach { i =>
        LakeTable.append(spark, root, spark.range(200 + i * 10, 205 + i * 10)
          .select(col("id").as("k"), lit(s"x$i").as("p"), col("id").as("v")))
      }
      val head = LakeTable.snapshot(spark, root)
      assert(refsOf(head.version).size <= 3, s"refs must fold: ${refsOf(head.version)}")
      assert(LakeTable.read(spark, root).count() === 79 + 20)
      // a partition value shaped like a segment reference cannot
      // masquerade as one (leading '@' percent-encoded at render)
      val meta = LakeTable.TableMeta(
        org.apache.spark.sql.types.StructType.fromDDL("a INT, p STRING"), "p", Nil)
      val evil = Seq(LakeTable.Entry("@seg=evil:1", "data/b/x.parquet", Nil))
      val (_, back) = LakeTable.parseManifest(LakeTable.renderManifest(meta, evil))
      assert(back === evil)
    } finally {
      LakeTable.SegmentThreshold = thr
      LakeTable.MaxSegments = maxs
    }
  }

  test("segmented manifests: writer contention keeps versions dense, entries unique") {
    val (thr, maxs) = (LakeTable.SegmentThreshold, LakeTable.MaxSegments)
    LakeTable.SegmentThreshold = 4
    LakeTable.MaxSegments = 6
    try {
      val root = freshRoot()
      val wide = spark.range(64).select(
        col("id").as("k"), (col("id") % 8).cast("string").as("p"), col("id").as("v"))
      LakeTable.init(spark, root, wide, "p", statsCols = Seq("k")) // 8 entries → segmented
      val n = 6
      val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
      val threads = (0 until n).map { i =>
        val th = new Thread {
          override def run(): Unit =
            try LakeTable.append(spark, root,
              spark.range(1000 + i * 10, 1005 + i * 10).select(
                col("id").as("k"), lit(s"w$i").as("p"), col("id").as("v")),
              maxRetries = n * 3)
            catch { case t: Throwable => errs.add(t) }
        }
        th.start(); th
      }
      threads.foreach(_.join())
      assert(errs.isEmpty, s"writers must all land: ${errs.peek()}")
      val s = LakeTable.snapshot(spark, root)
      // dense versions: every writer's commit landed exactly once, and
      // the race-retried segment diffs neither lost nor duplicated files
      assert(s.version === 1L + n)
      assert(s.entries.map(_.rel).distinct.size === s.entries.size)
      assert(LakeTable.read(spark, root).count() === 64 + n * 5)
      // fold ceiling respected under the racing commits too
      val refs = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        root, "_manifests", s"v${s.version}.manifest")), "UTF-8")
        .linesIterator.count(_.startsWith("@seg="))
      assert(refs <= 6, s"got $refs refs")
    } finally {
      LakeTable.SegmentThreshold = thr
      LakeTable.MaxSegments = maxs
    }
  }

  test("segmented manifests: vacuum reclaims only segments no retained version references") {
    val (thr, maxs) = (LakeTable.SegmentThreshold, LakeTable.MaxSegments)
    LakeTable.SegmentThreshold = 2
    try {
      val root = freshRoot()
      val base = spark.range(40).select(
        col("id").as("k"), (col("id") % 4).cast("string").as("p"), col("id").as("v"))
      LakeTable.init(spark, root, base, "p")                       // v1: seg A
      LakeTable.append(spark, root, spark.range(100, 110).select(
        col("id").as("k"), lit("9").as("p"), col("id").as("v")))   // v2: A + seg B
      // v3 breaks A (delete inside its partitions), carries B
      LakeTable.delete(spark, root, col("k") < 10, "p")
      val segDir = java.nio.file.Paths.get(root, "_manifests", "segments")
      def segFiles(): Set[String] = {
        val s = java.nio.file.Files.list(segDir)
        try {
          val it = s.iterator(); val b = Set.newBuilder[String]
          while (it.hasNext) { val n = it.next().getFileName.toString
            if (n.startsWith("seg-")) b += n }
          b.result()
        } finally s.close()
      }
      val before = segFiles()
      assert(before.size >= 3, s"A, B and A's replacement expected: $before")
      val removed = LakeTable.vacuum(spark, root, retainMillis = 0, keepVersions = 1)
      assert(removed > 0)
      val after = segFiles()
      // exactly the head's referenced segments survive
      val headRefs = new String(java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(
        root, "_manifests", "v3.manifest")), "UTF-8")
        .linesIterator.filter(_.startsWith("@seg=")).toSeq
      assert(after.forall(n => headRefs.exists(_.contains(n))), s"dead segments must go: $after")
      assert(LakeTable.read(spark, root).count() === 40)
      // an older version whose segment was reclaimed refuses crisply
      val e = intercept[IllegalArgumentException](LakeTable.readVersion(spark, root, 1))
      assert(e.getMessage.contains("vacuumed"), s"got: ${e.getMessage}")
    } finally {
      LakeTable.SegmentThreshold = thr
      LakeTable.MaxSegments = maxs
    }
  }
}
