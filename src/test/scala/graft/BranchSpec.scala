package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.LakeTable

/** Writable branches (the Iceberg branch shape on top of snapshot
  * tags): a branch is an independent manifest version line over the
  * SHARED data tree. Pins: fork is metadata-only; branch writes (API +
  * SQL DML through the `__branch_<name>` face) never touch main;
  * vacuum keeps branch-referenced files live; fast-forward adopts the
  * branch head exactly and refuses on divergence; dropBranch releases
  * the pins.
  */
class BranchSpec extends SparkSpec {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-branch").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  private def baseDf = spark.range(60).select(
    col("id").as("k"), (col("id") % 3).cast("string").as("p"), (col("id") * 10).as("v"))

  test("branch fork, write isolation, fast-forward, divergence refusal") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.branch(spark, root, "dev")
    assert(LakeTable.branches(spark, root) === Seq(("dev", 1L, 1L)))

    // branch ref works across the op surface: append + DELETE
    val ref = LakeTable.branchRef(root, "dev")
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 1000))
    LakeTable.delete(spark, ref, col("k") % 2 === 1, "p")
    val branchRows = LakeTable.read(spark, ref)
    assert(branchRows.count() === 60, "60 even keys across both batches")
    assert(branchRows.where(col("k") >= 1000).count() === 30)

    // main is untouched: same version, same rows
    assert(LakeTable.snapshot(spark, root).version === 1)
    assert(LakeTable.read(spark, root).count() === 60)
    assert(LakeTable.read(spark, root).where(col("k") >= 1000).count() === 0)

    // branch time travel rides the branch's own line
    assert(LakeTable.readVersion(spark, ref, 1).count() === 60)
    assert(LakeTable.readVersion(spark, ref, 2).count() === 120)

    // vacuum on main must NOT reclaim branch-only files
    LakeTable.vacuum(spark, root, retainMillis = 0L, keepVersions = 1)
    assert(LakeTable.read(spark, ref).count() === 60, "branch files survive main vacuum")
    // and vacuum refuses to run on a branch ref
    intercept[IllegalArgumentException](LakeTable.vacuum(spark, ref, 0L, 1))

    // fast-forward: main adopts the branch head bit-for-bit
    val newHead = LakeTable.fastForward(spark, root, "dev")
    assert(newHead === 2)
    val main = LakeTable.read(spark, root)
    assert(main.count() === 60)
    assert(main.exceptAll(branchRows).isEmpty && branchRows.exceptAll(main).isEmpty)

    // the loop iterates: another branch write, another fast-forward
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 2000))
    assert(LakeTable.fastForward(spark, root, "dev") === 3)
    assert(LakeTable.read(spark, root).count() === 120)

    // divergence: main advances past the fork base -> refusal
    LakeTable.append(spark, root, baseDf.withColumn("k", col("k") + 3000))
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 4000))
    val e = intercept[IllegalArgumentException](LakeTable.fastForward(spark, root, "dev"))
    assert(e.getMessage.contains("advanced"), e.getMessage)

    assert(LakeTable.dropBranch(spark, root, "dev"))
    assert(LakeTable.branches(spark, root).isEmpty)
  }

  test("mergeBranch: fast-forward arm, disjoint-files rebase, overlap refusal, loop") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.branch(spark, root, "dev")
    val ref = LakeTable.branchRef(root, "dev")

    // arm 1 — main unchanged since fork: merge IS a fast-forward
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 1000))
    assert(LakeTable.mergeBranch(spark, root, "dev") === 2)
    assert(LakeTable.read(spark, root).count() === 120)
    assert(LakeTable.branches(spark, root) === Seq(("dev", 2L, 2L)))

    // arm 2 — main advanced DISJOINTLY (appended only) while the branch
    // deleted from shared files and appended: the rebase re-commits the
    // branch's entry delta on main's head, no data I/O, no refusal
    LakeTable.append(spark, root, baseDf.withColumn("k", col("k") + 3000)) // main v3
    LakeTable.delete(spark, ref, col("k") % 2 === 1, "p")
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 2000))
    val merged = LakeTable.mergeBranch(spark, root, "dev")
    val main = LakeTable.read(spark, root)
    // file-level semantics: the branch's delete saw only ITS snapshot —
    // main's 3000-batch keeps its odd keys (exactly what sequential
    // file-level ops would produce)
    assert(main.count() === 60 + 60 + 60)
    assert(main.where(col("k") < 2000 && col("k") % 2 === 1).count() === 0)
    assert(main.where(col("k") >= 3000 && col("k") % 2 === 1).count() === 30)
    // the branch is re-seeded with the merged state and its base moves:
    // a later fastForward can never drop main's side
    val br = LakeTable.read(spark, ref)
    assert(br.exceptAll(main).isEmpty && main.exceptAll(br).isEmpty)
    assert(LakeTable.branches(spark, root).head._3 === merged)

    // the loop iterates: next branch write merges clean again
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 5000))
    LakeTable.mergeBranch(spark, root, "dev")
    assert(LakeTable.read(spark, root).count() === 240)

    // overlap refusal: both sides rewrite the same shared file (k=0 and
    // k=6 share the partition-0 file)
    LakeTable.delete(spark, root, col("k") === 0, "p")
    LakeTable.update(spark, ref, col("k") === 6, Map("v" -> lit(999L)), "p")
    val e = intercept[IllegalStateException](LakeTable.mergeBranch(spark, root, "dev"))
    assert(e.getMessage.contains("OVERLAPPING"), e.getMessage)
    // nothing half-committed on main by the refusal
    assert(LakeTable.read(spark, root).count() === 239)
  }

  test("mergeBranch races: two branches fork together, one wins, the loser rebases or refuses") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.branch(spark, root, "b1")
    LakeTable.branch(spark, root, "b2")
    val (r1, r2) = (LakeTable.branchRef(root, "b1"), LakeTable.branchRef(root, "b2"))

    // DISJOINT work: b1 appends, b2 appends — b1 merges first (fast
    // forward), b2's merge finds main advanced and lands via the
    // metadata rebase (zero recomputes, zero refusals)
    LakeTable.append(spark, r1, baseDf.withColumn("k", col("k") + 1000))
    LakeTable.append(spark, r2, baseDf.withColumn("k", col("k") + 2000))
    LakeTable.mergeBranch(spark, root, "b1")
    val rebases0 = LakeTable.mergeRebases.get()
    LakeTable.mergeBranch(spark, root, "b2")
    assert(LakeTable.mergeRebases.get() === rebases0 + 1,
      "the losing branch must land via the metadata rebase, not a recompute")
    assert(LakeTable.read(spark, root).count() === 180)

    // OVERLAPPING work: both branches rewrite the original shared files
    // — the second merge refuses, first-committer-wins
    LakeTable.branch(spark, root, "c1")
    LakeTable.branch(spark, root, "c2")
    LakeTable.update(spark, LakeTable.branchRef(root, "c1"),
      col("k") === 0, Map("v" -> lit(111L)), "p")
    LakeTable.update(spark, LakeTable.branchRef(root, "c2"),
      col("k") === 6, Map("v" -> lit(222L)), "p")
    LakeTable.mergeBranch(spark, root, "c1")
    val e = intercept[IllegalStateException](LakeTable.mergeBranch(spark, root, "c2"))
    assert(e.getMessage.contains("OVERLAPPING"), e.getMessage)
    // the winner's merge stands; the loser changed nothing on main
    val got = LakeTable.read(spark, root)
    assert(got.where(col("k") === 0).head.getLong(2) === 111L)
    assert(got.where(col("k") === 6).head.getLong(2) === 60L)
  }

  test("SQL face: CALL branch / __branch_ DML / fast_forward / drop_branch") {
    val d = Files.createTempDirectory("graft-branch-cat").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.br (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.db.br SELECT id, cast(id % 3 as string), id * 10 FROM range(30)")
    val fork = spark.sql("CALL graft.system.branch('db.br', 'exp')").head
    assert(fork.getString(0) === "exp" && fork.getLong(1) === 2L)

    // full DML surface against the branch face
    spark.sql("INSERT INTO graft.db.br.`__branch_exp` " +
      "SELECT id, cast(id % 3 as string), id FROM range(100, 110)")
    spark.sql("UPDATE graft.db.br.`__branch_exp` SET v = v + 1 WHERE k < 3")
    spark.sql("DELETE FROM graft.db.br.`__branch_exp` WHERE k IN (5, 6)")
    assert(spark.sql("SELECT count(*) c FROM graft.db.br.`__branch_exp`")
      .head.getLong(0) === 38)
    assert(spark.sql("SELECT sum(v) s FROM graft.db.br.`__branch_exp` WHERE k < 3")
      .head.getLong(0) === 0 + 10 + 20 + 3)
    // main untouched through it all
    assert(spark.sql("SELECT count(*) c FROM graft.db.br").head.getLong(0) === 30)
    assert(spark.sql("SELECT sum(v) s FROM graft.db.br WHERE k < 3").head.getLong(0) === 30)

    val brs = spark.sql("CALL graft.system.branches('db.br')").collect()
    assert(brs.map(r => (r.getString(0), r.getLong(2))).toSeq === Seq(("exp", 2L)))

    spark.sql("CALL graft.system.fast_forward('db.br', 'exp')")
    assert(spark.sql("SELECT count(*) c FROM graft.db.br").head.getLong(0) === 38)
    // post-ff the branch base moved up: the loop iterates through SQL too
    spark.sql("INSERT INTO graft.db.br.`__branch_exp` " +
      "SELECT id, '0', id FROM range(200, 203)")
    spark.sql("CALL graft.system.fast_forward('db.br', 'exp')")
    assert(spark.sql("SELECT count(*) c FROM graft.db.br").head.getLong(0) === 41)

    assert(spark.sql("CALL graft.system.drop_branch('db.br', 'exp')").head.getBoolean(0))
    intercept[Exception](
      spark.sql("SELECT * FROM graft.db.br.`__branch_exp`").collect())
  }

  private def copyTree(from: java.nio.file.Path, to: java.nio.file.Path): Unit = {
    import java.nio.file.{Files => F}
    F.walk(from).forEach { p =>
      val dst = to.resolve(from.relativize(p))
      if (F.isDirectory(p)) F.createDirectories(dst): Unit
      else { F.createDirectories(dst.getParent); F.copy(p, dst): Unit }
    }
  }

  private def deleteTree(dir: java.nio.file.Path): Unit = {
    import java.nio.file.{Files => F}
    F.walk(dir).sorted(java.util.Comparator.reverseOrder[java.nio.file.Path]())
      .forEach(p => F.delete(p))
  }

  test("mergeBranch OR-merges disjoint deletion vectors of a shared file") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"), deleteMode = "mor")
    LakeTable.branch(spark, root, "dev")
    val ref = LakeTable.branchRef(root, "dev")
    // branch and main MOR-delete DISJOINT rows of the SAME files — the
    // file-level merge alone would refuse this as an overlapping rewrite
    LakeTable.delete(spark, ref, col("k") % 10 === 3, "p")
    LakeTable.delete(spark, root, col("k") % 10 === 7, "p")
    val bdir = java.nio.file.Paths.get(root, "_manifests", "branches", "dev")
    val saved = Files.createTempDirectory("graft-dvb-save").resolve("dev")
    copyTree(bdir, saved)
    val r0 = LakeTable.mergeRebases.get()
    LakeTable.mergeBranch(spark, root, "dev")
    assert(LakeTable.mergeRebases.get() === r0 + 1, "metadata rebase, zero data I/O")
    val got = LakeTable.read(spark, root)
    assert(got.count() === 48)
    assert(got.where(col("k") % 10 === 3 || col("k") % 10 === 7).isEmpty,
      "both sides' tombstones land, once")
    // a RE-RUN after a lost branch re-seed is idempotent here too: the
    // branch's tombstones are all dead at head already
    deleteTree(bdir); copyTree(saved, bdir)
    LakeTable.mergeBranch(spark, root, "dev")
    assert(LakeTable.read(spark, root).count() === 48,
      "the re-run must neither duplicate nor refuse")

    // pure-tombstone deltas union even under PARTIAL overlap (deletes
    // are idempotent — the union IS the sequential composition)
    LakeTable.branch(spark, root, "dev2")
    val ref2 = LakeTable.branchRef(root, "dev2")
    LakeTable.delete(spark, ref2, col("k") % 10 === 4, "p")
    LakeTable.delete(spark, root, col("k") === 4, "p")
    LakeTable.mergeBranch(spark, root, "dev2")
    val after = LakeTable.read(spark, root)
    assert(after.count() === 42 && after.where(col("k") % 10 === 4).isEmpty)

    // overlap + appended postimages refuses: the branch's postimages
    // were derived from rows main killed
    LakeTable.branch(spark, root, "dev3")
    val ref3 = LakeTable.branchRef(root, "dev3")
    LakeTable.update(spark, ref3, col("k") % 10 === 5, Map("v" -> lit(1L)), "p")
    LakeTable.delete(spark, root, col("k") === 5, "p")
    val e = intercept[IllegalStateException](LakeTable.mergeBranch(spark, root, "dev3"))
    assert(e.getMessage.contains("OVERLAPPING"), e.getMessage)
  }

  test("mergeBranch refuses when main rewrote a pure-removal branch delta's read set") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.branch(spark, root, "dev")
    val ref = LakeTable.branchRef(root, "dev")
    // the branch drops partition p=0 entirely: files removed, NOTHING
    // written — the delta has no landed-merge anchor
    LakeTable.delete(spark, ref, col("p") === "0", "p")
    // main concurrently rewrites rows INSIDE that read set
    LakeTable.update(spark, root,
      col("p") === "0" && col("k") < 10, Map("v" -> lit(0L)), "p")
    val e = intercept[IllegalStateException](LakeTable.mergeBranch(spark, root, "dev"))
    assert(e.getMessage.contains("OVERLAPPING"), e.getMessage)
    assert(LakeTable.read(spark, root).count() === 60,
      "a refused merge must not silently discard the branch's deletes as 'applied'")
  }

  test("mergeBranch re-run after a lost branch re-seed never duplicates rows") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.branch(spark, root, "dev")
    val ref = LakeTable.branchRef(root, "dev")
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 1000))
    // main diverges disjointly so the merge takes the rebase arm
    LakeTable.append(spark, root, baseDf.withColumn("k", col("k") + 2000))
    val bdir = java.nio.file.Paths.get(root, "_manifests", "branches", "dev")
    val saved = Files.createTempDirectory("graft-branch-save").resolve("dev")
    copyTree(bdir, saved)
    assert(LakeTable.mergeBranch(spark, root, "dev") === 3)
    assert(LakeTable.read(spark, root).count() === 180)

    // simulate LOSING the branch re-seed race: the merge landed on main
    // but the branch line still holds its pre-merge state — the state a
    // concurrent branch commit leaves behind, where the error path
    // prescribes re-running mergeBranch
    deleteTree(bdir); copyTree(saved, bdir)
    LakeTable.mergeBranch(spark, root, "dev")
    val after = LakeTable.read(spark, root)
    assert(after.count() === 180, "re-run must not re-append already-merged files")
    assert(after.where(col("k") >= 1000 && col("k") < 2000).count() === 60)
    // the loop still iterates on the re-seeded branch
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 3000))
    LakeTable.mergeBranch(spark, root, "dev")
    assert(LakeTable.read(spark, root).count() === 240)

    // same race, but the branch took a NEW commit before the re-run
    // (exactly what made the re-seed fail): only the new rows land
    deleteTree(bdir); copyTree(saved, bdir)
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 4000))
    LakeTable.mergeBranch(spark, root, "dev")
    val m = LakeTable.read(spark, root)
    assert(m.count() === 300, "exactly the new branch commit lands, once")
    assert(m.where(col("k") >= 1000 && col("k") < 2000).count() === 60,
      "previously-merged branch rows stay single")
  }

  test("mergeBranch re-run after main REWROTE a landed merge's files never duplicates") {
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))
    LakeTable.branch(spark, root, "dev")
    val ref = LakeTable.branchRef(root, "dev")
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 1000))
    LakeTable.append(spark, root, baseDf.withColumn("k", col("k") + 2000))
    val bdir = java.nio.file.Paths.get(root, "_manifests", "branches", "dev")
    val saved = Files.createTempDirectory("graft-branch-save2").resolve("dev")
    copyTree(bdir, saved)
    LakeTable.mergeBranch(spark, root, "dev")
    assert(LakeTable.read(spark, root).count() === 180)
    // main COMPACTS after the landed merge: the merged branch files are
    // rewritten away — no entry at head is byte-identical to the
    // branch's written delta anymore
    LakeTable.optimize(spark, root, minFilesPerPartition = 2)
    assert(LakeTable.read(spark, root).count() === 180)
    // the lost-re-seed re-run must read the drifted files as APPLIED
    // (fresh rels known to main's history) — re-appending the stale
    // entries would duplicate 60 rows and resurrect main's compaction
    deleteTree(bdir); copyTree(saved, bdir)
    LakeTable.mergeBranch(spark, root, "dev")
    val after = LakeTable.read(spark, root)
    assert(after.count() === 180, "re-run after compaction must not re-append")
    assert(after.where(col("k") >= 1000 && col("k") < 2000).count() === 60)
    // the loop still iterates on the re-seeded branch
    LakeTable.append(spark, ref, baseDf.withColumn("k", col("k") + 5000))
    LakeTable.mergeBranch(spark, root, "dev")
    assert(LakeTable.read(spark, root).count() === 240)
  }
}
