package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.execution.datasources.v2.BatchScanExec
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.functions._

import graft.operators.LakeTable

/** The `graft` SQL catalog (GraftLakeCatalog): every transactional verb
  * reachable from pure `spark.sql` — DDL, INSERT INTO/OVERWRITE,
  * manifest-pruned DSv2 scans, VERSION/TIMESTAMP AS OF, COW DELETE /
  * UPDATE / MERGE INTO — plus the crisp refusals for shapes the engine
  * does not support (so nothing silently changes semantics).
  */
class LakeCatalogSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-catalog").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    d
  }

  private var n = 0
  /** A fresh three-partition table graft.db.<name> with stats on k. */
  private def mkTable(): String = {
    n += 1
    val t = s"graft.db.t$n"
    val _ = wh
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k')")
    spark.sql(s"INSERT INTO $t SELECT id, cast(id % 3 as string), id * 10 FROM range(30)")
    t
  }

  /** Distinct data files the executed DSv2 scan actually read. */
  private def v2ScannedFiles(df: DataFrame): Int = {
    df.collect()
    def unwrap(p: org.apache.spark.sql.execution.SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => unwrap(a.executedPlan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(unwrap)
    }
    val scans = unwrap(df.queryExecution.executedPlan)
    assert(scans.nonEmpty, "no BatchScanExec in executed plan")
    scans.flatMap(_.inputRDD.partitions.toSeq.collect {
      case p: org.apache.spark.sql.execution.datasources.v2.DataSourceRDDPartition =>
        p.inputPartitions.collect { case f: FilePartition => f.files.map(_.urlEncodedPath).toSeq }
    }.flatten.flatten).distinct.size
  }

  test("DDL + INSERT + SELECT: transactional appends, manifest-pruned DSv2 scans") {
    val t = mkTable()
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 30)
    // three partitions, one file each (single insert)
    val total = v2ScannedFiles(spark.sql(s"SELECT * FROM $t"))
    assert(total === 3)
    // partition predicate prunes to one file at PLANNING time
    val one = spark.sql(s"SELECT sum(v) s FROM $t WHERE p = '1'")
    assert(one.head.getLong(0) === (0 until 30).filter(_ % 3 == 1).map(_ * 10).sum)
    assert(v2ScannedFiles(spark.sql(s"SELECT * FROM $t WHERE p = '1'")) === 1)
    // stats predicate on k prunes too (k < 3 lives in every partition's
    // low file — here one file per partition so no skip; re-slice by k)
    spark.sql(s"INSERT INTO $t SELECT id, cast(id % 3 as string), id * 10 " +
      s"FROM range(100, 130)")
    val pruned = v2ScannedFiles(spark.sql(s"SELECT * FROM $t WHERE k >= 100"))
    assert(pruned === 3, s"stats pruning must skip the first batch's files, scanned $pruned")
    // INSERT chooses append: both batches visible
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 60)
  }

  test("INSERT OVERWRITE replaces contents transactionally; old version still time-travels") {
    val t = mkTable()
    spark.sql(s"INSERT OVERWRITE $t SELECT id, 'z', id FROM range(5)")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 5)
    // v2 was the 30-row insert; still readable
    assert(spark.sql(s"SELECT count(*) c FROM $t VERSION AS OF 2").head.getLong(0) === 30)
  }

  test("VERSION AS OF / TIMESTAMP AS OF resolve through the manifest line") {
    val t = mkTable()
    spark.sql(s"INSERT INTO $t VALUES (1000, '9', 0)")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 31)
    // v1 = empty CREATE, v2 = first insert, v3 = second insert
    assert(spark.sql(s"SELECT count(*) c FROM $t VERSION AS OF 1").head.getLong(0) === 0)
    assert(spark.sql(s"SELECT count(*) c FROM $t VERSION AS OF 2").head.getLong(0) === 30)
    // a timestamp far in the future resolves to the head version
    assert(spark.sql(s"SELECT count(*) c FROM $t TIMESTAMP AS OF '2999-01-01'")
      .head.getLong(0) === 31)
    // writing to a time-travel snapshot is refused
    val e = intercept[Exception](
      spark.sql(s"INSERT INTO $t VERSION AS OF 2 VALUES (1, '1', 1)"))
  }

  test("DELETE FROM: filter-translatable and arbitrary predicates both rewrite files") {
    val t = mkTable()
    spark.sql(s"DELETE FROM $t WHERE k >= 27")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 27)
    // non-Filter-translatable predicate (modulo) goes through the DML
    // strategy instead of SupportsDelete and still works
    spark.sql(s"DELETE FROM $t WHERE k % 10 = 3")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 24)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k % 10 = 3").head.getLong(0) === 0)
    // the delete physically rewrote files: reading the raw parquet of the
    // current snapshot finds no deleted row either
    val root = s"$wh/db/${t.split('.').last}"
    assert(LakeTable.read(spark, root).where(col("k") >= 27).count() === 0)
  }

  test("UPDATE: arbitrary assignments, pre-update semantics, partition moves, atomic commit") {
    val t = mkTable()
    val root = s"$wh/db/${t.split('.').last}"
    val v0 = LakeTable.snapshot(spark, root).version
    spark.sql(s"UPDATE $t SET v = v + k WHERE k < 5")
    assert(spark.sql(s"SELECT sum(v) s FROM $t WHERE k < 5").head.getLong(0) ===
      (0 until 5).map(k => k * 10 + k).sum)
    // exactly ONE commit per UPDATE (atomic; not delete+append)
    assert(LakeTable.snapshot(spark, root).version === v0 + 1)
    // updating the partition column moves rows
    spark.sql(s"UPDATE $t SET p = '9' WHERE k = 7")
    assert(spark.sql(s"SELECT p FROM $t WHERE k = 7").head.getString(0) === "9")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 30)
  }

  test("MERGE INTO: source-wins upsert lands on LakeTable.merge; results match semantics") {
    val t = mkTable()
    spark.sql("CREATE OR REPLACE TEMP VIEW msrc AS " +
      "SELECT id AS k, cast('9' as string) AS p, id * 100 AS v FROM range(25, 35)")
    spark.sql(s"MERGE INTO $t t USING msrc s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    // 30 target rows, keys 25..29 updated in place, 30..34 inserted
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 35)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE v >= 2500 AND p = '9'")
      .head.getLong(0) === 10)
    assert(spark.sql(s"SELECT sum(v) s FROM $t WHERE k < 25").head.getLong(0) ===
      (0 until 25).map(_ * 10).sum)
    // explicit source-side assignments work too
    spark.sql("CREATE OR REPLACE TEMP VIEW msrc2 AS SELECT id AS kk, id + 1 AS w FROM range(2)")
    spark.sql(s"MERGE INTO $t t USING msrc2 s ON t.k = s.kk " +
      "WHEN MATCHED THEN UPDATE SET k = s.kk, p = 'w', v = s.w " +
      "WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.kk, 'w', s.w)")
    assert(spark.sql(s"SELECT sum(v) s FROM $t WHERE p = 'w'").head.getLong(0) === 3)
  }

  test("MERGE INTO: conditional matched UPDATE/DELETE, first clause wins, target refs") {
    val t = mkTable()
    val root = s"$wh/db/${t.split('.').last}"
    val v0 = LakeTable.snapshot(spark, root).version
    // target rows k=0..29 with v = k*10; source keys 25..34 with v = k*100
    spark.sql("CREATE OR REPLACE TEMP VIEW csrc AS " +
      "SELECT id AS k, id * 100 AS v FROM range(25, 35)")
    spark.sql(s"MERGE INTO $t t USING csrc s ON t.k = s.k " +
      "WHEN MATCHED AND s.v >= 2700 THEN DELETE " +
      "WHEN MATCHED AND t.v < 260 THEN UPDATE SET v = t.v + s.v " +
      "WHEN NOT MATCHED AND s.k < 33 THEN INSERT (k, p, v) VALUES (s.k, '9', s.v)")
    // k=27,28,29: first clause (DELETE) wins; k=25: second clause updates
    // with a TARGET-side reference (250 + 2500); k=26: matched but no
    // clause fires -> kept unchanged; k=30..32 inserted, 33..34 dropped
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 30 - 3 + 3)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k IN (27, 28, 29)")
      .head.getLong(0) === 0)
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 25").head.getLong(0) === 2750)
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 26").head.getLong(0) === 260)
    assert(spark.sql(s"SELECT sum(v) s FROM $t WHERE p = '9'").head.getLong(0) ===
      3000 + 3100 + 3200)
    // ONE atomic commit for the whole clause set
    assert(LakeTable.snapshot(spark, root).version === v0 + 1)
  }

  test("MERGE INTO: NOT MATCHED BY SOURCE UPDATE/DELETE (full-sync CDC shape)") {
    val t = mkTable()
    val root = s"$wh/db/${t.split('.').last}"
    val v0 = LakeTable.snapshot(spark, root).version
    spark.sql("CREATE OR REPLACE TEMP VIEW ssrc AS " +
      "SELECT id AS k, '5' AS p, id AS v FROM range(10, 15)")
    spark.sql(s"MERGE INTO $t t USING ssrc s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT * " +
      "WHEN NOT MATCHED BY SOURCE AND t.k % 2 = 1 THEN DELETE " +
      "WHEN NOT MATCHED BY SOURCE THEN UPDATE SET v = -1")
    // matched 10..14 take the source value; unmatched-by-source odd keys
    // are deleted, even keys tombstoned with v = -1
    assert(spark.sql(s"SELECT sum(v) s FROM $t WHERE k BETWEEN 10 AND 14")
      .head.getLong(0) === (10 to 14).sum)
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 5 + 12)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE v = -1").head.getLong(0) === 12)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k % 2 = 1 AND k NOT BETWEEN 10 AND 14")
      .head.getLong(0) === 0)
    assert(LakeTable.snapshot(spark, root).version === v0 + 1)
  }

  test("MERGE INTO: insert-only clause merge refuses duplicate source keys (no dup target rows)") {
    // the general path's full-outer join would replicate a matched
    // target row once per duplicate source key — the cardinality check
    // must fire even with NO matched clause
    val t = mkTable()
    val root = s"$wh/db/${t.split('.').last}"
    val v0 = LakeTable.snapshot(spark, root).version
    spark.sql("CREATE OR REPLACE TEMP VIEW dupsrc AS " +
      "SELECT k, 'x' AS p, k AS v FROM (SELECT id % 3 AS k FROM range(6))")
    val e = intercept[Exception](
      spark.sql(s"MERGE INTO $t t USING dupsrc s ON t.k = s.k " +
        "WHEN NOT MATCHED AND s.v >= 0 THEN INSERT *"))
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("cardinality violation")), s"got: $e")
    assert(LakeTable.snapshot(spark, root).version === v0)
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 30)
  }

  test("MERGE INTO: unsupported shapes fail crisply, nothing half-commits") {
    val t = mkTable()
    val root = s"$wh/db/${t.split('.').last}"
    val v0 = LakeTable.snapshot(spark, root).version
    spark.sql("CREATE OR REPLACE TEMP VIEW bsrc AS " +
      "SELECT id AS k, 'x' AS p, id AS v FROM range(3)")
    def unsupported(sql: String, fragment: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      def chain(t: Throwable): Seq[Throwable] =
        if (t == null) Nil else t +: chain(t.getCause)
      assert(chain(e).exists(c =>
        c.isInstanceOf[UnsupportedOperationException] &&
          c.getMessage.contains("graft-lake MERGE INTO")), s"got: $e")
    }
    // non-equality ON: no equi-join key, no file probe — refused, and the
    // refusal must not be swallowed by the general-clause fallback
    unsupported(s"MERGE INTO $t t USING bsrc s ON t.k > s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *",
      "non-equality")
    // assignment to a column the table lacks via a conditional clause
    // (the general path does not evolve schema)
    val e = intercept[Exception](
      spark.sql(s"MERGE INTO $t t USING bsrc s ON t.k = s.k " +
        "WHEN MATCHED AND s.v > 1 THEN UPDATE SET w = s.v " +
        "WHEN NOT MATCHED THEN INSERT *"))
    assert(e != null)
    assert(LakeTable.snapshot(spark, root).version === v0, "failed MERGE must not commit")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 30)
  }

  test("CTAS and RTAS: CREATE/REPLACE TABLE AS SELECT through the catalog") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.ctas PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k') AS " +
      "SELECT id AS k, cast(id % 2 as string) AS p, id * 3 AS v FROM range(20)")
    assert(spark.sql("SELECT count(*) c FROM graft.db.ctas").head.getLong(0) === 20)
    assert(spark.sql("SELECT sum(v) s FROM graft.db.ctas WHERE p = '1'").head.getLong(0) ===
      (0 until 20).filter(_ % 2 == 1).map(_ * 3).sum)
    // stats recorded for the CTAS batch: a k-range predicate prunes
    assert(v2ScannedFiles(spark.sql("SELECT * FROM graft.db.ctas WHERE k < 0")) <= 2)
    spark.sql("REPLACE TABLE graft.db.ctas PARTITIONED BY (p) AS " +
      "SELECT id AS k, 'z' AS p, id AS v FROM range(5)")
    assert(spark.sql("SELECT count(*) c FROM graft.db.ctas").head.getLong(0) === 5)
    spark.sql("DROP TABLE graft.db.ctas")
  }

  test("catalog management: SHOW TABLES, DROP, RENAME, path identifiers") {
    val t = mkTable()
    val short = t.split('.').last
    val listed = spark.sql("SHOW TABLES IN graft.db").collect().map(_.getString(1))
    assert(listed.contains(short))
    // DESCRIBE EXTENDED surfaces the manifest's metadata story: version,
    // file count, and exact row/byte totals (zero data I/O)
    val props = spark.sql(s"DESCRIBE TABLE EXTENDED $t").collect()
      .map(r => r.getString(0) -> r.getString(1)).toMap
    val tblProps = props.getOrElse("Table Properties", "")
    assert(tblProps.contains("numRows=30") && tblProps.contains("numFiles=3"),
      s"expected manifest counts in table properties, got: $tblProps")
    // the TO identifier resolves inside the same catalog (no catalog prefix)
    spark.sql(s"ALTER TABLE $t RENAME TO db.renamed_$short")
    assert(spark.sql(s"SELECT count(*) c FROM graft.db.renamed_$short").head.getLong(0) === 30)
    spark.sql(s"DROP TABLE graft.db.renamed_$short")
    assert(!spark.sql("SHOW TABLES IN graft.db").collect()
      .map(_.getString(1)).contains(s"renamed_$short"))
    // nested namespaces are listable at every level
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.outer.inner")
    assert(spark.sql("SHOW NAMESPACES IN graft").collect().map(_.getString(0))
      .contains("outer"))
    assert(spark.sql("SHOW NAMESPACES IN graft.outer").collect().map(_.getString(0))
      .contains("outer.inner"))
    spark.sql("CREATE TABLE graft.outer.inner.nt (k BIGINT, p STRING) PARTITIONED BY (p)")
    spark.sql("INSERT INTO graft.outer.inner.nt VALUES (1, 'a')")
    assert(spark.sql("SELECT count(*) c FROM graft.outer.inner.nt").head.getLong(0) === 1)
    // VERSION AS OF with a version that is neither numeric nor a known
    // tag fails crisply (on a table that exists — here the nested one)
    val ev = intercept[Exception](
      spark.sql("SELECT * FROM graft.outer.inner.nt VERSION AS OF 'latest'").collect())
    def msgs(x: Throwable): Seq[String] =
      if (x == null) Nil else Option(x.getMessage).toSeq ++ msgs(x.getCause)
    assert(msgs(ev).exists(_.contains("neither a manifest version nor a tag")), s"got: $ev")
    // absolute-path identifier addresses an existing root directly
    val root = s"${Files.createTempDirectory("graft-cat-path")}/t"
    LakeTable.init(spark,
      root,
      spark.range(7).select(col("id").as("k"), lit("a").as("p")),
      "p")
    assert(spark.sql(s"SELECT count(*) c FROM graft.`$root`").head.getLong(0) === 7)
    spark.sql(s"DELETE FROM graft.`$root` WHERE k = 0")
    assert(spark.sql(s"SELECT count(*) c FROM graft.`$root`").head.getLong(0) === 6)
  }

  test("ALTER TABLE: ADD COLUMNS and stats/bloom property changes are metadata-only commits") {
    val t = mkTable()
    val root = s"$wh/db/${t.split('.').last}"
    val filesBefore = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (note STRING, score DOUBLE)")
    // zero data I/O: same files, one new version, old rows read NULL
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.entries.map(_.rel).toSet === filesBefore)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE note IS NULL").head.getLong(0) === 30)
    // new columns are insertable and stats can be extended to them
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (statsCols 'k,score')")
    spark.sql(s"INSERT INTO $t SELECT id, '1', 0, 'x', cast(id as double) FROM range(500, 510)")
    val s2 = LakeTable.snapshot(spark, root)
    assert(s2.meta.get.statsCols === Seq("k", "score"))
    // the pre-change files keep their k bounds (remapped, still pruning)
    // and record nothing for score (conservatively kept)
    val old = s2.entries.filter(e => filesBefore.contains(e.rel))
    assert(old.forall(e => e.stats.length == 2 && e.stats(0)._1.isDefined &&
      e.stats(1) == ((None, None))))
    // the post-change batch records BOTH dimensions
    val fresh = s2.entries.filterNot(e => filesBefore.contains(e.rel))
    assert(fresh.nonEmpty && fresh.forall(_.stats.forall(s => s._1.isDefined)))
    // score pruning bites on the NEW batch only: a score predicate that
    // excludes the fresh file's [500,509] range skips it, while the three
    // pre-change files (no recorded score stats) are conservatively kept
    assert(v2ScannedFiles(spark.sql(s"SELECT * FROM $t WHERE score < 0.0")) === 3)
    // immutability-breaking changes are refused (RENAME/DROP are
    // supported now — covered by their own column-mapping tests)
    intercept[Exception](spark.sql(s"ALTER TABLE $t ALTER COLUMN note TYPE INT"))
    spark.sql(s"ALTER TABLE $t RENAME COLUMN note TO n2")
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE n2 IS NULL").head.getLong(0) > 0)
  }

  test("review fixes: MERGE cardinality, NOT NULL add-column, subquery predicates refused") {
    val t = mkTable()
    val root = s"$wh/db/${t.split('.').last}"
    val v0 = LakeTable.snapshot(spark, root).version
    // duplicate source keys = MERGE cardinality violation (one target row
    // would be updated by two source rows) — refused BEFORE any commit
    spark.sql("CREATE OR REPLACE TEMP VIEW dupsrc AS " +
      "SELECT 1L AS k, 'a' AS p, 10L AS v UNION ALL SELECT 1L, 'a', 20L")
    val e1 = intercept[Exception](
      spark.sql(s"MERGE INTO $t t USING dupsrc s ON t.k = s.k " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e1).exists(c => c.getMessage != null &&
      c.getMessage.contains("cardinality")), s"got: $e1")
    assert(LakeTable.snapshot(spark, root).version === v0, "violation must not commit")
    // NOT NULL added column would be silently violated by old rows — refused
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD COLUMNS (c BIGINT NOT NULL)"))
    assert(chain(e2).exists(c => c.getMessage != null && c.getMessage.contains("nullable")),
      s"got: $e2")
    // CORRELATED subquery in a DML predicate: lifted into a staged
    // membership test (the qualified tt.k makes this one genuinely
    // correlated; an unqualified k would bind to dupsrc's own column,
    // inner scope wins) — deletes exactly the odd keys dupsrc knows
    spark.sql(s"DELETE FROM $t tt WHERE tt.k % 2 = 1 AND " +
      s"EXISTS (SELECT 1 FROM dupsrc d WHERE d.k = tt.k)")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 29)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k = 1").head.getLong(0) === 0)
  }

  test("MERGE WITH SCHEMA EVOLUTION: clause path widens through alterTable; opt-in only") {
    val t = mkTable() // k=0..29, p=k%3, v=k*10
    val root = s"$wh/db/${t.split('.').last}"
    spark.sql("CREATE OR REPLACE TEMP VIEW evsrc AS " +
      "SELECT * FROM VALUES (1L,'1',111L,'upd'),(99L,'0',990L,'new') AS s(k,p,v,note)")

    // WITHOUT the opt-in: assigning a column the table lacks fails at
    // analysis (unresolved column), nothing commits
    val v0 = LakeTable.snapshot(spark, root).version
    intercept[Exception](spark.sql(s"MERGE INTO $t t USING evsrc s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v, note = s.note " +
      "WHEN NOT MATCHED THEN INSERT (k, p, v, note) VALUES (s.k, s.p, s.v, s.note)"))
    assert(LakeTable.snapshot(spark, root).version === v0)
    assert(!LakeTable.snapshot(spark, root).meta.get.schema.fieldNames.contains("note"))

    // WITH SCHEMA EVOLUTION: the general clause path (conditional
    // UPDATE + DELETE + INSERT) gains the source-only column — analysis
    // widens the table via the catalog's ADD COLUMNS commit, old files
    // read NULL through, and the clause rewrite lands the new values
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO $t t USING evsrc s ON t.k = s.k " +
      "WHEN MATCHED AND s.note = 'upd' THEN UPDATE SET v = s.v, note = s.note " +
      "WHEN MATCHED THEN DELETE " +
      "WHEN NOT MATCHED THEN INSERT (k, p, v, note) VALUES (s.k, s.p, s.v, s.note)")
    assert(LakeTable.snapshot(spark, root).meta.get.schema.fieldNames.contains("note"))
    val got = spark.sql(s"SELECT k, v, note FROM $t WHERE k IN (1, 99) ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2))).toSeq
    assert(got === Seq((1L, 111L, "upd"), (99L, 990L, "new")), s"got $got")
    // untouched rows (old files) read NULL through the evolution:
    // 30 originals + the k=99 insert, notes only on k=1 and k=99
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE note IS NULL").head.getLong(0) === 29)
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 31)

    // the source-wins upsert shape evolves under the same opt-in
    spark.sql("CREATE OR REPLACE TEMP VIEW evsrc2 AS " +
      "SELECT * FROM VALUES (2L,'2',222L,'x',7L) AS s(k,p,v,note,extra)")
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO $t t USING evsrc2 s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    assert(spark.sql(s"SELECT extra FROM $t WHERE k = 2").head.getLong(0) === 7L)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE extra IS NULL").head.getLong(0) === 30)
  }

  test("DML subqueries: IN / NOT IN / EXISTS / scalar materialized; correlated values lift") {
    val t = mkTable() // k=0..29, p=k%3, v=k*10
    val root = s"$wh/db/${t.split('.').last}"
    spark.sql("CREATE OR REPLACE TEMP VIEW blk AS SELECT * FROM VALUES (3L),(5L),(7L) AS v(b)")

    // the decontamination verb: blocklist IN-delete (subquery over
    // another relation, executed once, spliced back as its result)
    spark.sql(s"DELETE FROM $t WHERE k IN (SELECT b FROM blk)")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 27)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k IN (3,5,7)").head.getLong(0) === 0)

    // SELF-referencing subquery: evaluated against the PRE-statement
    // snapshot (the materialized copy pins it), so max(v) is stable
    spark.sql(s"DELETE FROM $t WHERE v IN (SELECT max(v) FROM $t)")
    assert(spark.sql(s"SELECT max(k) m FROM $t").head.getLong(0) === 28)

    // scalar-subquery assignment + IN predicate on UPDATE
    spark.sql(s"UPDATE $t SET v = (SELECT min(b) FROM blk) WHERE k IN (SELECT b + 1 FROM blk)")
    assert(spark.sql(s"SELECT collect_set(v)[0] s, count(*) c FROM $t WHERE k IN (4, 6, 8)")
      .collect().map(r => (r.getLong(0), r.getLong(1))).head === ((3L, 3L)))

    // EXISTS (uncorrelated): empty result = no-op, non-empty = gate open
    val before = spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0)
    spark.sql(s"DELETE FROM $t WHERE EXISTS (SELECT 1 FROM blk WHERE b > 100) AND k < 2")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === before)
    spark.sql(s"DELETE FROM $t WHERE EXISTS (SELECT 1 FROM blk WHERE b > 5) AND k < 2")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === before - 2)

    // NOT IN keeps its three-valued SQL semantics through the rewrite
    spark.sql(s"DELETE FROM $t WHERE k NOT IN (SELECT b * 2 FROM blk)")
    assert(spark.sql(s"SELECT sort_array(collect_list(k)) s FROM $t").head
      .getSeq[Long](0) === Seq(6L, 10L, 14L))

    // MERGE clause condition with an uncorrelated subquery
    spark.sql("CREATE OR REPLACE TEMP VIEW msrc AS " +
      "SELECT * FROM VALUES (6L,'z',1L),(10L,'z',2L),(99L,'z',3L) AS s(k,p,v)")
    spark.sql(s"MERGE INTO $t t USING msrc s ON t.k = s.k " +
      "WHEN MATCHED AND t.k IN (SELECT b * 2 FROM blk) THEN UPDATE SET v = s.v * 1000 " +
      "WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)")
    val m = spark.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(m === Seq((6L, 1000L), (10L, 2000L), (14L, 140L), (99L, 3L)), s"got $m")

    // correlated subqueries in ASSIGNMENT VALUES: a per-tuple staged
    // scalar + null-safe lookup — on UPDATE and the merge clause path
    // alike (rows: (6,1000),(10,2000),(14,140),(99,3); blk = {3,5,7})
    spark.sql(s"UPDATE $t SET v = (SELECT max(b) FROM blk WHERE b < k) WHERE k > 0")
    val u = spark.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(u === Seq((6L, 5L), (10L, 7L), (14L, 7L), (99L, 7L)), s"got $u")
    spark.sql(s"MERGE INTO $t t USING msrc s ON t.k = s.k " +
      "WHEN MATCHED AND t.k > 0 THEN UPDATE SET v = " +
      "(SELECT sum(b) FROM blk WHERE b < t.k)")
    val m2 = spark.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    // matched keys 6/10/99 take sum(b < k) = 8/15/15; 14 is unmatched
    assert(m2 === Seq((6L, 8L), (10L, 15L), (14L, 7L), (99L, 15L)), s"got $m2")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 4)
    val _ = root
  }

  test("correlated subqueries in MERGE clause conditions lift to staged membership") {
    val t = mkTable() // k=0..29, p=k%3, v=k*10
    spark.sql("CREATE OR REPLACE TEMP VIEW mdim AS " +
      "SELECT * FROM VALUES (5L, 1000L), (7L, 5L) AS d(dk, cap)")
    spark.sql("CREATE OR REPLACE TEMP VIEW msrc2 AS SELECT * FROM VALUES " +
      "(5L,'2',501L), (7L,'1',701L), (99L,'0',990L), (98L,'2',980L) AS s(k,p,v)")
    // every clause family with a correlated condition: MATCHED reads
    // BOTH sides (t.k equi + dim cap vs the SOURCE's v), NOT MATCHED
    // reads the source, NOT MATCHED BY SOURCE reads the target
    spark.sql(s"""MERGE INTO $t t USING msrc2 s ON t.k = s.k
      WHEN MATCHED AND EXISTS (SELECT 1 FROM mdim d WHERE d.dk = t.k AND d.cap > s.v)
        THEN DELETE
      WHEN MATCHED THEN UPDATE SET v = s.v
      WHEN NOT MATCHED AND EXISTS (SELECT 1 FROM mdim d WHERE d.dk = s.k % 94)
        THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)
      WHEN NOT MATCHED BY SOURCE AND EXISTS (SELECT 1 FROM mdim d WHERE d.dk = t.k % 2 + 5)
        THEN DELETE""")
    // k=5: dim cap 1000 > source v 501 → deleted; k=7: cap 5 → updated;
    // k=99: 99%94=5 in dim → inserted; k=98: 98%94=4 absent → skipped;
    // unmatched EVEN target rows (k%2+5 = 5 in dim) → deleted
    val rows = spark.sql(s"SELECT k, v FROM $t ORDER BY k").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSeq
    assert(rows.size === 15, s"got ${rows.size}: $rows")
    assert(!rows.exists(_._1 == 5) && !rows.exists(_._1 == 98))
    assert(rows.contains((7L, 701L)) && rows.contains((99L, 990L)))
    assert(rows.filter(r => r._1 < 30 && r._1 != 7).forall(r => r._1 % 2 == 1),
      "every surviving pre-existing row except k=7 must be odd")
  }

  test("GENERATED ALWAYS AS: computed on insert, invariant-validated, recomputed on update") {
    n += 1
    val t = s"graft.db.t$n"
    val _ = wh
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING, " +
      "dek BIGINT GENERATED ALWAYS AS (k % 10)) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k')")
    // the expression survives the manifest round-trip
    val root = s"$wh/db/t$n"
    assert(LakeTable.generatedOf(LakeTable.snapshot(spark, root).meta.get.schema)
      === Seq("dek" -> "k % 10"))

    // by-name INSERT omitting the column → the write path computes it
    spark.sql(s"INSERT INTO $t (k, p) SELECT id, cast(id % 3 AS string) FROM range(30)")
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE dek = k % 10").head.getLong(0) === 30)

    // a provided value must satisfy the invariant: match commits,
    // mismatch refuses with nothing committed
    spark.sql(s"INSERT INTO $t VALUES (100L, 'a', 0L)")
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    val e1 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (101L, 'a', 5L)"))
    assert(chain(e1).exists(c => c.getMessage != null &&
      c.getMessage.contains("GENERATED")), s"got: $e1")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 31)

    // UPDATE of a referenced column recomputes the generated value
    spark.sql(s"UPDATE $t SET k = k + 100 WHERE k = 7")
    assert(spark.sql(s"SELECT dek FROM $t WHERE k = 107").head.getLong(0) === 7)
    // explicit SET breaking the invariant refuses
    val e2 = intercept[Exception](spark.sql(s"UPDATE $t SET dek = 99 WHERE k = 107"))
    assert(chain(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("GENERATED")), s"got: $e2")

    // MOR mode recomputes too (tombstone + regenerated append)
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (deleteMode 'mor')")
    spark.sql(s"UPDATE $t SET k = k + 100 WHERE k = 107")
    assert(spark.sql(s"SELECT dek FROM $t WHERE k = 207").head.getLong(0) === 7)

    // a generated column cannot be bolted on later (no backfill rewrite)
    val e3 = intercept[Exception](spark.sql(
      s"ALTER TABLE $t ADD COLUMNS (g2 BIGINT GENERATED ALWAYS AS (k + 1))"))
    assert(e3 != null)
  }

  test("IDENTITY columns: write-path allocation, monotonic across batches, never reused") {
    n += 1
    val t = s"graft.db.t$n"
    val _ = wh
    val root = s"$wh/db/t$n"
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING, " +
      "id BIGINT GENERATED ALWAYS AS IDENTITY (START WITH 100 INCREMENT BY 3)) " +
      "PARTITIONED BY (p)")
    // the spec survives the manifest round-trip; the column auto-joined stats
    val meta0 = LakeTable.snapshot(spark, root).meta.get
    assert(LakeTable.identityOf(meta0.schema) === Seq(("id", 100L, 3L, false)))
    assert(meta0.statsCols.contains("id"))

    spark.sql(s"INSERT INTO $t (k, p) SELECT id, cast(id % 3 AS string) FROM range(30)")
    def ids(): Seq[Long] =
      spark.sql(s"SELECT id FROM $t").collect().map(_.getLong(0)).toSeq
    val b1 = ids()
    assert(b1.size === 30 && b1.distinct.size === 30, "ids must be unique")
    assert(b1.forall(_ >= 100), "ids start at START WITH")
    assert(b1.forall(i => (i - 100) % 3 == 0), "ids stay on the START/INCREMENT lattice")

    // second batch allocates strictly beyond the first (hw from stats)
    spark.sql(s"INSERT INTO $t (k, p) SELECT id + 100, 'x' FROM range(10)")
    val b2 = ids().filterNot(b1.toSet)
    assert(b2.size === 10 && b2.min > b1.max, s"batch 2 must start beyond ${b1.max}")

    // GENERATED ALWAYS: explicit values refuse at the insert funnel
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    val e1 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (1L, 'x', 5L)"))
    assert(chain(e1).exists(c => c.getMessage != null &&
      c.getMessage.contains("IDENTITY")), s"got: $e1")

    // never-reuse: delete the highest rows, the persisted high-water
    // keeps the next allocation beyond the DELETED max
    val maxBefore = ids().max
    spark.sql(s"DELETE FROM $t WHERE id > ${maxBefore - 15}")
    spark.sql(s"INSERT INTO $t (k, p) VALUES (999L, 'x')")
    assert(ids().max > maxBefore, "deleted identity values must never be reused")

    // the high-water rides the table, fenced from SQL edits
    assert(LakeTable.snapshot(spark, root).meta.get.props.contains("identity.hw.id"))
    val e2 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('identity.hw.id' '1')"))
    assert(chain(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("identity")), s"got: $e2")

    // BY DEFAULT variant accepts explicit values and allocates around them
    n += 1
    val t2 = s"graft.db.t$n"
    spark.sql(s"CREATE TABLE $t2 (k BIGINT, p STRING, " +
      "id BIGINT GENERATED BY DEFAULT AS IDENTITY) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $t2 VALUES (1L, 'a', 7777L)")
    spark.sql(s"INSERT INTO $t2 (k, p) VALUES (2L, 'a')")
    val v = spark.sql(s"SELECT id FROM $t2 ORDER BY id").collect().map(_.getLong(0))
    assert(v.contains(7777L) && v.distinct.length === 2)
    assert(v.max > 7777L, "allocation must clear an explicit high value")

    // identity cannot be bolted on later
    val e3 = intercept[Exception](spark.sql(
      s"ALTER TABLE $t ADD COLUMNS (id2 BIGINT GENERATED ALWAYS AS IDENTITY)"))
    assert(e3 != null)
  }

  /** The key upsert keeps a matched row's IDENTITY value and allocates
    * an inserted row's, whichever write step the table's `deleteMode`
    * picks.
    */
  private def identityUpsert(mode: String): Unit = {
    n += 1
    val t = s"graft.db.t$n"
    val _ = wh
    val root = s"$wh/db/t$n"
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING, v BIGINT, " +
      "id BIGINT GENERATED ALWAYS AS IDENTITY) PARTITIONED BY (p) " +
      s"TBLPROPERTIES (statsCols 'k', deleteMode '$mode')")
    spark.sql(s"INSERT INTO $t (k, p, v) SELECT id, cast(id % 3 AS string), id FROM range(30)")
    def rows(): Map[Long, (Long, Long)] = spark.sql(s"SELECT k, v, id FROM $t").collect()
      .map(r => r.getLong(0) -> ((r.getLong(1), r.getLong(2)))).toMap
    val before = rows()

    import spark.implicits._
    LakeTable.merge(spark, root,
      Seq((5L, "2", 500L), (100L, "1", 1000L)).toDF("k", "p", "v"), Seq("k"), "p")
    assert(LakeTable.snapshot(spark, root).entries.exists(_.dv.isDefined) === (mode == "mor"),
      s"the merge must have taken the $mode write step")
    val after = rows()
    assert(after.size === 31)
    assert(after(5L) === ((500L, before(5L)._2)), "a matched row keeps its identity value")
    assert(after(100L)._2 > before.values.map(_._2).max, "an insert allocates beyond the mark")
    assert(after.values.map(_._2).toSet.size === 31, "identity values stay unique")

    // GENERATED ALWAYS: explicit source values refuse
    val e = intercept[IllegalArgumentException](LakeTable.merge(spark, root,
      Seq((6L, "0", 1L, 7L)).toDF("k", "p", "v", "id"), Seq("k"), "p"))
    assert(e.getMessage.contains("IDENTITY"))
  }

  test("key-upsert merge on a mor table keeps matched IDENTITY values, allocates inserted ones") {
    identityUpsert("mor")
  }

  test("key-upsert merge on a cow table keeps matched IDENTITY values, allocates inserted ones") {
    identityUpsert("cow")
  }

  test("ALTER COLUMN SET/DROP DEFAULT is metadata-only; exists-default stays frozen") {
    val t = mkTable() // k=0..29, p=k%3, v=k*10
    val root = s"$wh/db/${t.split('.').last}"
    // add a column WITH a default: old files read the frozen
    // exists-default, new inserts take the current default
    spark.sql(s"ALTER TABLE $t ADD COLUMNS (tagv BIGINT DEFAULT 7)")
    spark.sql(s"INSERT INTO $t (k, p, v) VALUES (100L, 'a', 1L)")
    assert(spark.sql(s"SELECT tagv FROM $t WHERE k = 100").head.getLong(0) === 7)
    // SET DEFAULT changes FUTURE inserts only — rows already written and
    // pre-add files keep reading what they did
    spark.sql(s"ALTER TABLE $t ALTER COLUMN tagv SET DEFAULT 9")
    spark.sql(s"INSERT INTO $t (k, p, v) VALUES (101L, 'a', 1L)")
    assert(spark.sql(s"SELECT tagv FROM $t WHERE k = 101").head.getLong(0) === 9)
    assert(spark.sql(s"SELECT tagv FROM $t WHERE k = 100").head.getLong(0) === 7)
    assert(spark.sql(s"SELECT tagv FROM $t WHERE k = 0").head.getLong(0) === 7,
      "pre-add files keep the frozen exists-default")
    // DROP DEFAULT: omission now means NULL; old readings unchanged
    spark.sql(s"ALTER TABLE $t ALTER COLUMN tagv DROP DEFAULT")
    spark.sql(s"INSERT INTO $t (k, p, v) VALUES (102L, 'a', 1L)")
    assert(spark.sql(s"SELECT tagv FROM $t WHERE k = 102").head.isNullAt(0))
    assert(spark.sql(s"SELECT tagv FROM $t WHERE k = 0").head.getLong(0) === 7)
    val _ = root
  }

  test("sync_identity re-derives the mark from data (the Delta SYNC IDENTITY verb)") {
    n += 1
    val t = s"graft.db.t$n"
    val _ = wh
    val root = s"$wh/db/t$n"
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING, " +
      "id BIGINT GENERATED BY DEFAULT AS IDENTITY) PARTITIONED BY (p)")
    // explicit high value on a BY DEFAULT column, then sync: the mark
    // jumps to the data max, and allocation clears it
    spark.sql(s"INSERT INTO $t VALUES (1L, 'a', 50000L)")
    val marks = spark.sql(s"CALL graft.system.sync_identity('$root')")
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
    assert(marks === Seq(("id", 50000L)), s"got $marks")
    spark.sql(s"INSERT INTO $t (k, p) VALUES (2L, 'a')")
    assert(spark.sql(s"SELECT max(id) FROM $t").head.getLong(0) > 50000L)
  }

  test("free-form TBLPROPERTIES persist in the manifest; mv.* is fenced") {
    n += 1
    val t = s"graft.db.t$n"
    val _ = wh
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k', team 'data-eng')")
    def props(): Map[String, String] =
      spark.sql(s"SHOW TBLPROPERTIES $t").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("team") === Some("data-eng"))
    assert(props().get("statsCols") === Some("k"))

    // SET adds/overwrites, UNSET removes — both metadata-only commits
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (team 'ml', tier 'gold')")
    assert(props().get("team") === Some("ml"))
    assert(props().get("tier") === Some("gold"))
    spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES (tier)")
    assert(props().get("tier") === None)
    // the property survives a round-trip through the manifest codec
    val root = s"$wh/db/t$n"
    assert(LakeTable.snapshot(spark, root).meta.get.props("team") === "ml")

    // view bookkeeping cannot be hand-edited through SQL
    val e = intercept[Exception](
      spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('mv.srcVersion' '99')"))
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("refresh_matview")), s"got: $e")
  }

  test("correlated DML predicates: EXISTS/NOT EXISTS/IN/scalar-compare lift to staged membership") {
    val t = mkTable() // k=0..29, p=k%3, v=k*10
    val root = s"$wh/db/${t.split('.').last}"
    spark.sql("CREATE OR REPLACE TEMP VIEW cdim AS SELECT * FROM VALUES " +
      "(1L, 100L), (2L, 100L), (3L, 305L), (4L, 100L), (5L, 505L) AS d(dk, cap)")

    // correlated EXISTS with an extra inner predicate: deletes k where a
    // dim row has dk = k AND cap > v (k=1: cap 100 > 10 yes; k=2: 100 >
    // 20 yes; k=3: 305 > 30 yes; k=4: 100 > 40 yes; k=5: 505 > 50 yes)
    spark.sql(s"DELETE FROM $t tt WHERE EXISTS " +
      "(SELECT 1 FROM cdim d WHERE d.dk = tt.k AND d.cap > tt.v)")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 25)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k BETWEEN 1 AND 5").head.getLong(0) === 0)

    // comparison on a correlated SCALAR: the whole boolean leaf lifts.
    // Remaining k: 0, 6..29. avg(cap where dk <= k) = 222 for k >= 5 —
    // v < 222 holds for v = 60..220, i.e. k in 6..22 → bumps v by 1
    spark.sql(s"UPDATE $t tt SET v = v + 1 WHERE tt.v < " +
      "(SELECT avg(cap) FROM cdim d WHERE d.dk <= tt.k)")
    // k=0: no dim rows (dk <= 0 empty) → scalar NULL → no update
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 0").head.getLong(0) === 0)
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 6").head.getLong(0) === 61)
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 22").head.getLong(0) === 221)
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 23").head.getLong(0) === 230)

    // correlated NOT EXISTS (anti) under OR with an ordinary predicate:
    // keep only rows a dim row covers (dk = k % 6) unless k >= 24
    spark.sql(s"DELETE FROM $t tt WHERE k < 24 AND NOT EXISTS " +
      "(SELECT 1 FROM cdim d WHERE d.dk = tt.k % 6)")
    // k < 24 survivors need k % 6 in {1..5}: kills 0, 6, 12, 18
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k IN (0, 6, 12, 18)")
      .head.getLong(0) === 0)
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 21)

    // correlated IN (the inner filter reads the outer row): no surviving
    // row's v + k equals its own dk-row's cap — commits cleanly as a
    // no-op instead of refusing or over-deleting
    spark.sql(s"DELETE FROM $t tt WHERE tt.v + tt.k IN " +
      "(SELECT cap FROM cdim d WHERE d.dk = tt.k % 25)")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 21)

    // MOR table: the same correlated EXISTS drives deletion vectors
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES (deleteMode 'mor')")
    val entriesBefore = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    spark.sql(s"DELETE FROM $t tt WHERE EXISTS " +
      "(SELECT 1 FROM cdim d WHERE d.dk = tt.k % 6 AND d.cap = 100)")
    // k%6 in {1,2,4} dies: survivors have k%6 in {3,5} or k >= 24 with
    // k%6 in {0,3,5}: from remaining set
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k % 6 IN (1, 2, 4) AND k < 24")
      .head.getLong(0) === 0)
    // no data file was rewritten (MOR: only DV sidecars + manifest)
    val after = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    assert(after.subsetOf(entriesBefore), "MOR correlated delete must not rewrite files")
  }

  test("catalog scans report manifest statistics: small lake table broadcasts without a hint") {
    val t = mkTable()
    val big = spark.range(50000).select(col("id").as("k"), (col("id") * 2).as("w"))
    big.createOrReplaceTempView("cat_big")
    val joined = spark.sql(s"SELECT sum(b.w) s FROM $t l JOIN cat_big b ON l.k = b.k")
    joined.collect()
    val hasBroadcast = joined.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin")
    assert(hasBroadcast, "manifest sizeInBytes must drive the broadcast decision:\n" +
      joined.queryExecution.executedPlan)
  }

  test("readStream.table: version-offset tail, checkpoint restart, skipChangeCommits") {
    import org.apache.spark.sql.streaming.Trigger
    val t = mkTable()
    val stage = Files.createTempDirectory("graft-cat-stream").toString
    def drain(opts: Map[String, String] = Map.empty): Unit = {
      val r = spark.readStream.options(opts).table(t)
      val q = r.writeStream.format("parquet")
        .option("path", s"$stage/out")
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(s"$stage/out").count() === 30)
    // restart from the checkpoint: ONLY the new commit's rows arrive
    spark.sql(s"INSERT INTO $t SELECT id, '9', id FROM range(700, 705)")
    drain()
    val out = spark.read.parquet(s"$stage/out")
    assert(out.count() === 35)
    assert(out.select("k").as[Long](org.apache.spark.sql.Encoders.scalaLong)
      .collect().count(_ >= 700) === 5, "replay-free: exactly the appended rows")
    // a change commit fails crisply without skipChangeCommits...
    spark.sql(s"DELETE FROM $t WHERE k = 700")
    spark.sql(s"INSERT INTO $t VALUES (800, '9', 0)")
    val e = intercept[Exception](drain())
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("append-only stream cannot represent")), s"got: $e")
    // ...and is skipped wholly under the option (the insert still lands)
    drain(Map("skipChangeCommits" -> "true"))
    val fin = spark.read.parquet(s"$stage/out")
    assert(fin.count() === 36)
    assert(fin.where(col("k") === 800).count() === 1)
  }

  test("RENAME COLUMN: metadata-only commit; old files read by field id; pruning survives") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.ren (k BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES (statsCols 'k', bloomCols 'v')")
    spark.sql("INSERT INTO graft.db.ren SELECT id, cast(id % 3 as string), id * 10 " +
      "FROM range(30)")
    val root = s"$wh/db/ren"
    val filesBefore = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    val v0 = LakeTable.snapshot(spark, root).version
    spark.sql("ALTER TABLE graft.db.ren RENAME COLUMN k TO kk")
    // metadata-only: same data files, one new manifest version
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.version === v0 + 1)
    assert(snap.entries.map(_.rel).toSet === filesBefore)
    // pre-rename files read under the NEW name (field-id matching)
    assert(spark.sql("SELECT sum(kk) s FROM graft.db.ren").head.getLong(0) ===
      (0 until 30).sum)
    assert(spark.sql("SELECT v FROM graft.db.ren WHERE kk = 7").head.getLong(0) === 70)
    // stats cells keep pruning under the new name
    assert(v2ScannedFiles(spark.sql("SELECT * FROM graft.db.ren WHERE kk < 0")) <= 1)
    // renamed BLOOM column: sidecars written under 'v' still prune a
    // point lookup on 'w' (manifest-recorded alias)
    spark.sql("ALTER TABLE graft.db.ren RENAME COLUMN v TO w")
    val pointFiles = LakeTable.readPoint(spark, root, "w", 70L).inputFiles.length
    assert(pointFiles <= 2 && pointFiles >= 1,
      s"bloom pruning must survive the rename, scanned $pointFiles of 3")
    assert(LakeTable.readPoint(spark, root, "w", 70L).count() === 1)
    // a batch written AFTER the rename mixes with pre-rename files
    spark.sql("INSERT INTO graft.db.ren SELECT id, '9', id FROM range(100, 105)")
    assert(spark.sql("SELECT sum(kk) s FROM graft.db.ren").head.getLong(0) ===
      (0 until 30).sum + (100 until 105).sum)
    // time travel to the pre-rename snapshot reads the OLD names
    assert(spark.sql(s"SELECT sum(k) s FROM graft.db.ren VERSION AS OF $v0")
      .head.getLong(0) === (0 until 30).sum)
    // type changes stay refused; partition-column rename refused
    intercept[Exception](spark.sql("ALTER TABLE graft.db.ren ALTER COLUMN w TYPE INT"))
    val e = intercept[Exception](
      spark.sql("ALTER TABLE graft.db.ren RENAME COLUMN p TO q"))
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("cannot rename partition column")), s"got: $e")
    // a column added via ALTER TABLE gets a field id too — it must stay
    // renamable (ADD then RENAME, both metadata-only)
    spark.sql("ALTER TABLE graft.db.ren ADD COLUMNS (extra BIGINT)")
    spark.sql("INSERT INTO graft.db.ren SELECT id, '8', id, id * 2 FROM range(200, 203)")
    spark.sql("ALTER TABLE graft.db.ren RENAME COLUMN extra TO xtr")
    assert(spark.sql("SELECT sum(xtr) s FROM graft.db.ren WHERE kk >= 200")
      .head.getLong(0) === (200 until 203).map(_ * 2).sum)
  }

  test("DROP COLUMN: metadata-only commit; retired field id never resurrects old data") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.dropc (k BIGINT, p STRING, v BIGINT) " +
      "PARTITIONED BY (p) TBLPROPERTIES (statsCols 'k,v')")
    spark.sql("INSERT INTO graft.db.dropc SELECT id, cast(id % 2 as string), id * 10 " +
      "FROM range(20)")
    val root = s"$wh/db/dropc"
    val filesBefore = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    val v0 = LakeTable.snapshot(spark, root).version
    spark.sql("ALTER TABLE graft.db.dropc DROP COLUMN v")
    // metadata-only: same data files, one new version, v gone from the
    // schema AND auto-removed from statsCols (k's cells keep pruning)
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.version === v0 + 1)
    assert(snap.entries.map(_.rel).toSet === filesBefore)
    assert(snap.meta.get.schema.fieldNames.toSeq === Seq("k", "p"))
    assert(snap.meta.get.statsCols === Seq("k"))
    intercept[Exception](spark.sql("SELECT v FROM graft.db.dropc"))
    assert(spark.sql("SELECT sum(k) s FROM graft.db.dropc").head.getLong(0) ===
      (0 until 20).sum)
    // time travel to the pre-drop version still reads the column
    assert(spark.sql(s"SELECT sum(v) s FROM graft.db.dropc VERSION AS OF $v0")
      .head.getLong(0) === (0 until 20).map(_ * 10).sum)
    // re-adding the NAME gets a fresh field id: the old files' physical v
    // data must NOT resurface (v held the then-highest id — without the
    // maxFieldId high-water mark, a recycled id would read id*10 back)
    spark.sql("ALTER TABLE graft.db.dropc ADD COLUMNS (v BIGINT)")
    assert(spark.sql("SELECT count(*) c FROM graft.db.dropc WHERE v IS NOT NULL")
      .head.getLong(0) === 0, "dropped data leaked into the re-added column")
    spark.sql("INSERT INTO graft.db.dropc SELECT id, '9', -id FROM range(100, 103)")
    assert(spark.sql("SELECT sum(v) s FROM graft.db.dropc").head.getLong(0) ===
      -(100 until 103).sum)
    // refusals: the partition column; drop+rename of the same column
    intercept[Exception](spark.sql("ALTER TABLE graft.db.dropc DROP COLUMN p"))
    val e = intercept[IllegalArgumentException](LakeTable.alterTable(spark, root,
      renameColumns = Map("v" -> "z"), dropColumns = Seq("v")))
    assert(e.getMessage.contains("both dropped and renamed"), e.getMessage)
  }

  test("column DEFAULT values: INSERT filling; pre-add files read the exists-default") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.dft (k BIGINT, p STRING, v BIGINT DEFAULT 7) " +
      "PARTITIONED BY (p)")
    val root = s"$wh/db/dft"
    // CREATE-time default fills omitted INSERT columns (and DEFAULT kw)
    spark.sql("INSERT INTO graft.db.dft (k, p) VALUES (1, 'a')")
    spark.sql("INSERT INTO graft.db.dft VALUES (2, 'b', 9), (3, 'b', DEFAULT)")
    assert(spark.sql("SELECT sum(v) s FROM graft.db.dft").head.getLong(0) === 7 + 9 + 7)
    // ADD COLUMNS with DEFAULT: files written BEFORE the column existed
    // read the frozen exists-default, NOT NULL
    spark.sql("ALTER TABLE graft.db.dft ADD COLUMNS (w BIGINT DEFAULT 42)")
    assert(spark.sql("SELECT count(*) c FROM graft.db.dft WHERE w = 42")
      .head.getLong(0) === 3, "pre-add rows must read the exists-default")
    // post-add inserts: omitted column gets the current default;
    // explicit values and explicit NULLs are preserved
    spark.sql("INSERT INTO graft.db.dft (k, p) VALUES (4, 'c')")
    spark.sql("INSERT INTO graft.db.dft VALUES (5, 'c', 1, 100), (6, 'c', 1, NULL)")
    assert(spark.sql("SELECT sum(w) s FROM graft.db.dft").head.getLong(0) === 42L * 4 + 100)
    assert(spark.sql("SELECT count(*) c FROM graft.db.dft WHERE w IS NULL")
      .head.getLong(0) === 1)
    // defaults survive the manifest round trip (parse re-attaches them)
    val m = LakeTable.snapshot(spark, root).meta.get
    assert(m.schema("w").metadata.contains(LakeTable.CurrentDefaultKey))
    assert(m.schema("w").metadata.getString(LakeTable.ExistsDefaultKey).contains("42"))
  }

  test("CHECK constraints: ADD validates existing rows; every write path enforces; DROP reopens") {
    val t = mkTable() // 30 rows, v = id * 10 >= 0
    val root = s"$wh/db/${t.split('.').last}"
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    def version: Long = LakeTable.snapshot(spark, root).version
    // a constraint EXISTING rows violate is refused (validation scan —
    // Spark's analyzer runs it first on capable catalogs; the engine's
    // own alterTable scan backstops the programmatic path)
    val e0 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t ADD CONSTRAINT neg CHECK (v < 0)"))
    assert(chain(e0).exists(c => c.getMessage != null &&
      (c.getMessage.contains("violated by existing data") ||
        c.getMessage.contains("violate CHECK"))), s"got: $e0")
    // a satisfied constraint lands as a metadata commit
    spark.sql(s"ALTER TABLE $t ADD CONSTRAINT nonneg CHECK (v >= 0)")
    assert(LakeTable.snapshot(spark, root).meta.get.checks === Seq("nonneg" -> "v >= 0"))
    // INSERT violating → refused before anything commits
    val v0 = version
    val e1 = intercept[Exception](spark.sql(s"INSERT INTO $t VALUES (900, '1', -5)"))
    assert(chain(e1).exists(c => c.getMessage != null && c.getMessage.contains("nonneg")),
      s"got: $e1")
    assert(version === v0)
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 30)
    // NULL passes (SQL CHECK semantics: only FALSE violates)
    spark.sql(s"INSERT INTO $t VALUES (901, '1', NULL)")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 31)
    // UPDATE and MERGE violating → refused on the COW rewrite path
    val e2 = intercept[Exception](spark.sql(s"UPDATE $t SET v = -1 WHERE k = 0"))
    assert(chain(e2).exists(c => c.getMessage != null && c.getMessage.contains("nonneg")))
    spark.sql("CREATE OR REPLACE TEMP VIEW ck_src AS SELECT 0L AS k, '0' AS p, -7L AS v")
    val e3 = intercept[Exception](spark.sql(s"MERGE INTO $t t USING ck_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *"))
    assert(chain(e3).exists(c => c.getMessage != null && c.getMessage.contains("nonneg")))
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE v < 0").head.getLong(0) === 0)
    // the constrained column cannot be renamed or dropped
    val e4 = intercept[Exception](spark.sql(s"ALTER TABLE $t RENAME COLUMN v TO w"))
    assert(chain(e4).exists(c => c.getMessage != null &&
      c.getMessage.contains("referenced by CHECK")), s"got: $e4")
    intercept[Exception](spark.sql(s"ALTER TABLE $t DROP COLUMN v"))
    // DROP CONSTRAINT reopens the gate
    spark.sql(s"ALTER TABLE $t DROP CONSTRAINT nonneg")
    spark.sql(s"INSERT INTO $t VALUES (902, '1', -5)")
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE v < 0").head.getLong(0) === 1)
  }

  test("writeStream.toTable: exactly-once streaming lake writes with recorded stats") {
    import org.apache.spark.sql.streaming.Trigger
    val src = mkTable() // v1 CREATE, v2 INSERT(30)
    val t = mkTable()
    spark.sql(s"DELETE FROM $t WHERE true") // empty target, same schema
    val root = s"$wh/db/${t.split('.').last}"
    val stage = Files.createTempDirectory("graft-totable").toString
    def drain(): Unit = {
      val q = spark.readStream.table(src)
        .writeStream
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .toTable(t)
      q.awaitTermination()
    }
    drain()
    def cnt(): Long = spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0)
    assert(cnt() === 30)
    // checkpoint restart with no new data: nothing lands twice
    drain()
    assert(cnt() === 30)
    // the streamed batch's entries record rows, bytes AND k stats bounds
    // (the same fused metadata pass as the batch writer)
    val streamed = LakeTable.snapshot(spark, root).entries
      .filter(_.rel.contains("batch-stream-"))
    assert(streamed.nonEmpty)
    assert(streamed.forall(e => e.rows.isDefined && e.bytes.isDefined))
    assert(streamed.forall(e => e.stats.nonEmpty && e.stats.head._1.isDefined))
    // a new source commit delivers exactly the delta
    spark.sql(s"INSERT INTO $src SELECT id, '7', id FROM range(900, 905)")
    drain()
    assert(cnt() === 35)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k >= 900").head.getLong(0) === 5)
    // NULL partition values land in the Hive sentinel partition
    spark.sql(s"INSERT INTO $src VALUES (999, CAST(NULL AS STRING), 1)")
    drain()
    assert(cnt() === 36)
    assert(LakeTable.snapshot(spark, root).entries.exists(e =>
      e.part == LakeTable.NullPartition && e.rel.contains("batch-stream-")))
    assert(spark.sql(s"SELECT v FROM $t WHERE p IS NULL").head.getLong(0) === 1)
    // the txn watermark carries the engine's epoch ids
    assert(LakeTable.snapshot(spark, root).meta.get.txns.keys.exists(_.startsWith("toTable-")))
  }

  test("stored procedures: CALL graft.system maintenance verbs") {
    val t = mkTable() // v1 CREATE, v2 INSERT(30)
    val short = t.stripPrefix("graft.")
    val root = s"$wh/db/${t.split('.').last}"
    // unknown procedure refuses with the available list
    val e = intercept[Exception](spark.sql(s"CALL graft.system.nope(table => '$short')"))
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("unknown procedure")), s"got: $e")
    // fragment, then OPTIMIZE through SQL
    spark.sql(s"INSERT INTO $t SELECT id, cast(id % 3 as string), id FROM range(500, 530)")
    val filesBefore = LakeTable.snapshot(spark, root).entries.size
    val opt = spark.sql(s"CALL graft.system.optimize(table => '$short')").head
    assert(opt.getLong(opt.fieldIndex("files_rewritten")) > 0)
    assert(LakeTable.snapshot(spark, root).entries.size < filesBefore)
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 60)
    // analyze: metadata-only profile straight from the manifest
    val an = spark.sql(s"CALL graft.system.analyze(table => '$short')").head
    assert(an.getLong(an.fieldIndex("rows")) === 60)
    assert(an.getLong(an.fieldIndex("partitions")) === 3)
    // history: one row per committed version
    val head0 = LakeTable.snapshot(spark, root).version
    assert(spark.sql(s"CALL graft.system.history(table => '$short')").count() === head0)
    // restore back to the 30-row v2 (a forward commit)
    val res = spark.sql(
      s"CALL graft.system.restore(table => '$short', version => 2)").head
    assert(res.getLong(res.fieldIndex("head_version")) === head0 + 1)
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 30)
    // vacuum with zero retention reclaims the restored-away files
    val vac = spark.sql(s"CALL graft.system.vacuum(table => '$short', " +
      "retain_hours => 0.0D, keep_versions => 1)").head
    assert(vac.getLong(vac.fieldIndex("files_removed")) > 0)
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 30)
  }

  test("rename hygiene: duplicate targets refused; stale bloom aliases dropped on reuse") {
    val root = s"${Files.createTempDirectory("graft-renh")}/t"
    val df = spark.range(20).select(
      col("id").as("a"), (col("id") % 2).cast("string").as("p"), col("id").as("v"))
    LakeTable.init(spark, root, df, "p", bloomCols = Seq("v"))
    // two renames to the same target would commit a duplicate-name schema
    val e = intercept[IllegalArgumentException](
      LakeTable.alterTable(spark, root, renameColumns = Map("a" -> "c", "v" -> "c")))
    assert(e.getMessage.contains("duplicate column names"), e.getMessage)
    // rename bloom column v -> w records the alias...
    LakeTable.alterTable(spark, root, renameColumns = Map("v" -> "w"))
    assert(LakeTable.snapshot(spark, root).meta.get.bloomAliases === Map("w" -> Seq("v")))
    // ...but re-occupying the name 'v' with a NEW column must drop the
    // alias: new files write col=v sidecar rows for the OTHER column,
    // and matching them for w would consult the wrong bloom
    LakeTable.alterTable(spark, root,
      addColumns = Seq(org.apache.spark.sql.types.StructField(
        "v", org.apache.spark.sql.types.LongType, nullable = true)),
      bloomCols = Some(Seq("w", "v")))
    assert(LakeTable.snapshot(spark, root).meta.get.bloomAliases === Map.empty)
  }

  test("TIMESTAMP AS OF resolves from recorded commit time, surviving mtime churn") {
    val t = mkTable() // v1 CREATE, v2 INSERT(30)
    Thread.sleep(20)
    val mid = System.currentTimeMillis()
    Thread.sleep(20)
    spark.sql(s"INSERT INTO $t VALUES (900, '9', 0)") // v3
    // clobber every manifest mtime far into the future — the shape a
    // copy/restore/object-store round-trip produces; mtime-based
    // resolution would now find NO version at or before `mid`
    val dir = new java.io.File(s"$wh/db/${t.split('.').last}/_manifests")
    dir.listFiles().foreach(f => assert(f.setLastModified(mid + 7200L * 1000)))
    val zone = java.time.ZoneId.of(spark.conf.get("spark.sql.session.timeZone"))
    val lit = java.time.LocalDateTime.ofInstant(
      java.time.Instant.ofEpochMilli(mid), zone)
      .format(java.time.format.DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSS"))
    assert(spark.sql(s"SELECT count(*) c FROM $t TIMESTAMP AS OF '$lit'")
      .head.getLong(0) === 30, "recorded commit time must resolve v2 despite mtimes")
  }

  test("__changes derived table: batch changelog, streaming CDF, restart replay") {
    import org.apache.spark.sql.streaming.Trigger
    val t = mkTable() // v1 CREATE (empty), v2 INSERT 30 rows (k, p, v=k*10)
    val stage = Files.createTempDirectory("graft-cat-cdf").toString
    spark.sql(s"UPDATE $t SET v = v + 1 WHERE k < 3")       // v3: 3 updates
    spark.sql(s"DELETE FROM $t WHERE k IN (10, 11)")        // v4: 2 deletes
    // batch face: default = current snapshot as inserts at head version
    val boot = spark.read.option("keyCols", "k").table(s"$t.__changes")
    assert(boot.where(col("_change_type") === "insert").count() === 28)
    assert(boot.select(max(col("_commit_version"))).head.getLong(0) === 4)
    // batch face: (2, head] per-commit changelog
    val log = spark.read.option("keyCols", "k")
      .option("startingVersion", "2").table(s"$t.__changes")
    val byType = log.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byType === Map(
      (3L, "update_preimage") -> 3L, (3L, "update_postimage") -> 3L,
      (4L, "delete") -> 2L))
    // same window, DIFFERENT keyCols → an independently materialized
    // slice (the batch stage key digests root + keyCols): with v in the
    // key the v3 rewrite classifies as delete+insert, not update — a
    // reused slice from the keyCols="k" read above would be wrong here
    val log2 = spark.read.option("keyCols", "k,v")
      .option("startingVersion", "2").table(s"$t.__changes")
    val byType2 = log2.groupBy("_commit_version", "_change_type").count()
      .collect().map(r => (r.getLong(0), r.getString(1)) -> r.getLong(2)).toMap
    assert(byType2 === Map(
      (3L, "delete") -> 3L, (3L, "insert") -> 3L, (4L, "delete") -> 2L),
      s"keyCols must key the staged slice, got $byType2")
    // SQL face resolves the derived identifier too
    assert(spark.sql(
      s"SELECT count(*) c FROM $t.__changes WHERE _change_type = 'insert'")
      .head.getLong(0) === 28)
    // keyCols is required for a changelog walk — crisp refusal, not a
    // misclassified feed (the bootstrap SQL face needs no options)
    val e = intercept[Exception](
      spark.read.option("startingVersion", "2").table(s"$t.__changes").collect())
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    assert(chain(e).exists(c => c.getMessage != null &&
      c.getMessage.contains("keyCols option is required")), s"got: $e")
    // streaming face: drain (2, head], then restart delivers ONLY new commits
    def drain(): Unit = {
      val q = spark.readStream
        .option("keyCols", "k").option("startingVersion", "2")
        .table(s"$t.__changes")
        .writeStream.format("parquet")
        .option("path", s"$stage/out")
        .option("checkpointLocation", s"$stage/ckpt")
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    assert(spark.read.parquet(s"$stage/out").count() === 8)
    spark.sql(s"DELETE FROM $t WHERE k = 12") // v5
    drain()
    val out = spark.read.parquet(s"$stage/out")
    assert(out.count() === 9, "restart must deliver exactly the new commit")
    assert(out.where(col("_commit_version") === 5).count() === 1)
    assert(out.groupBy("_commit_version", "_change_type").count().count() === 4)
    // committed slices are reclaimed from the checkpoint staging area
    val staged = new java.io.File(s"$stage/ckpt/__graft_cdf")
    val leftover = Option(staged.listFiles()).map(_.map(_.getName).toSeq).getOrElse(Nil)
    assert(leftover.isEmpty, s"committed CDF slices must be cleaned: $leftover")
    // a caught-up BATCH poll (startingVersion == head) is an empty feed,
    // not a crash
    val head = LakeTable.snapshot(spark, s"$wh/db/${t.split('.').last}").version
    assert(spark.read.option("keyCols", "k")
      .option("startingVersion", head.toString)
      .table(s"$t.__changes").count() === 0)
  }

  test("LakeTable.update: COW locality — probe and rewrite set are stats-pruned") {
    val root = s"${Files.createTempDirectory("graft-upd")}/t"
    val df = spark.range(300).select(
      col("id").as("k"), (col("id") % 3).cast("string").as("p"), (col("id") * 10).as("v"))
    LakeTable.init(spark, root, df, "p", statsCol = Some("k"))
    LakeTable.optimize(spark, root, minFilesPerPartition = 1, maxRecordsPerFile = 20,
      sortCols = Seq("k"))
    val total = LakeTable.snapshot(spark, root).entries.size
    val stats = LakeTable.update(spark, root, col("k").between(10L, 14L),
      Map("v" -> (col("v") + 1L)), "p")
    assert(stats.filesProbed < total,
      s"update probe must be stats-pruned: probed ${stats.filesProbed} of $total")
    assert(stats.filesRewritten <= stats.filesProbed)
    val got = LakeTable.read(spark, root)
    assert(got.where(col("k").between(10L, 14L)).agg(sum("v")).head.getLong(0) ===
      (10 to 14).map(_ * 10 + 1).sum)
    assert(got.count() === 300)
    // NULL-predicate rows keep their values (SQL semantics)
    val r2 = LakeTable.update(spark, root,
      when(col("k") < 5, lit(null).cast("boolean")).otherwise(col("k") === 5L),
      Map("v" -> lit(-1L)), "p")
    assert(LakeTable.read(spark, root).where(col("v") === -1L).count() === 1)
  }

  test("SQL UPDATE/DELETE prune the same files as the LakeTable API route") {
    val _ = wh
    // twin 15-file tables: range(300) over p = k % 3, stats on k, 20-row
    // files sorted on k
    def twin(name: String): String = {
      spark.sql(s"CREATE TABLE graft.db.$name (k BIGINT, p STRING, v BIGINT) " +
        "PARTITIONED BY (p) TBLPROPERTIES (statsCols 'k')")
      spark.sql(s"INSERT INTO graft.db.$name " +
        "SELECT id, cast(id % 3 as string), id * 10 FROM range(300)")
      val root = s"$wh/db/$name"
      LakeTable.optimize(spark, root, minFilesPerPartition = 1, maxRecordsPerFile = 20,
        sortCols = Seq("k"))
      root
    }
    val (sqlRoot, apiRoot) = (twin("route_sql"), twin("route_api"))
    val total = LakeTable.snapshot(spark, sqlRoot).entries.size
    assert(total === 15)
    def removed(t: String): Long = spark.sql(
      s"SELECT files_removed FROM graft.db.$t.__history ORDER BY version DESC LIMIT 1")
      .head.getLong(0)

    spark.sql("UPDATE graft.db.route_sql SET v = v + 1 WHERE k BETWEEN 10 AND 14")
    LakeTable.update(spark, apiRoot, col("k").between(10L, 14L),
      Map("v" -> (col("v") + 1L)), "p")
    assert(removed("route_sql") === removed("route_api"))
    assert(removed("route_sql") < total, "a SQL UPDATE must be stats-pruned")

    val held = LakeTable.snapshot(spark, sqlRoot).entries.size
    spark.sql("DELETE FROM graft.db.route_sql WHERE k BETWEEN 100 AND 104")
    LakeTable.delete(spark, apiRoot, col("k").between(100L, 104L), "p")
    assert(removed("route_sql") === removed("route_api"))
    assert(removed("route_sql") < held, "a SQL DELETE must be stats-pruned")

    val (viaSql, viaApi) = (spark.table("graft.db.route_sql"), spark.table("graft.db.route_api"))
    assert(viaSql.count() === 295)
    assert(viaSql.exceptAll(viaApi).isEmpty && viaApi.exceptAll(viaSql).isEmpty)
  }

  test("deleteMode is read per statement: ALTER between two DELETEs switches COW to MOR") {
    val t = mkTable()
    val root = s"$wh/db/${t.stripPrefix("graft.db.")}"
    val rels0 = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet

    // cow: the first DELETE rewrites the files holding a match
    spark.sql(s"DELETE FROM $t WHERE k = 4")
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.entries.map(_.rel).toSet !== rels0, "a COW delete rewrites files")
    assert(s1.entries.forall(_.dv.isEmpty), "a COW delete records no vectors")

    // the property flips in a metadata-only commit; the next DELETE on
    // the SAME table tombstones instead of rewriting
    spark.sql(s"ALTER TABLE $t SET TBLPROPERTIES ('deleteMode'='mor')")
    val rels1 = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    spark.sql(s"DELETE FROM $t WHERE k = 5")
    val s2 = LakeTable.snapshot(spark, root)
    assert(s2.entries.map(_.rel).toSet === rels1, "a MOR delete writes no data file")
    assert(s2.entries.flatMap(_.dv).map(_.card).sum === 1, "k=5 lands as one tombstone")
    assert(spark.sql(s"SELECT count(*) c FROM $t").head.getLong(0) === 28)
    assert(spark.sql(s"SELECT count(*) c FROM $t WHERE k IN (4, 5)").head.getLong(0) === 0)
  }

  test("deleteMode=mor: SQL DELETE records deletion vectors; DSv2 scans filter them") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.mor (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k', deleteMode 'mor')")
    spark.sql("INSERT INTO graft.db.mor SELECT id, cast(id % 3 as string), id * 10 FROM range(30)")
    val root = s"$wh/db/mor"
    val relsBefore = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet

    // simple-filter DELETE (SupportsDelete path) and expression DELETE
    // (planner path) both route MOR
    spark.sql("DELETE FROM graft.db.mor WHERE k = 7")
    spark.sql("DELETE FROM graft.db.mor WHERE k % 10 = 3")
    val snap = LakeTable.snapshot(spark, root)
    assert(snap.entries.map(_.rel).toSet === relsBefore,
      "MOR deletes must leave every data file in place")
    assert(snap.entries.flatMap(_.dv).map(_.card).sum === 4) // k=7,3,13,23

    // the DSv2 catalog scan filters the dead positions (mixed clean +
    // DV'd partitions in one query)
    assert(spark.sql("SELECT count(*) c FROM graft.db.mor").head.getLong(0) === 26)
    assert(spark.sql("SELECT sum(v) s FROM graft.db.mor").head.getLong(0) ===
      (0 until 30).filterNot(Set(7, 3, 13, 23)).map(_ * 10).sum)
    assert(spark.sql("SELECT count(*) c FROM graft.db.mor WHERE k IN (3, 7, 13, 23)")
      .head.getLong(0) === 0)
    // filters still push down on the clean side; results stay exact
    assert(spark.sql("SELECT count(*) c FROM graft.db.mor WHERE k >= 20").head.getLong(0) === 9)

    // DESCRIBE surfaces the mode and the LIVE row count
    val props = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(
        Array("db"), "mor")).properties()
    assert(props.get("deleteMode") === "mor")
    assert(props.get("numRows") === "26")

    // VERSION AS OF reads across the DV commits (v1 = empty CREATE,
    // v2 = the insert, v3 = first DV delete)
    assert(spark.sql("SELECT count(*) c FROM graft.db.mor VERSION AS OF 2")
      .head.getLong(0) === 30)
    assert(spark.sql("SELECT count(*) c FROM graft.db.mor VERSION AS OF 3")
      .head.getLong(0) === 29)

    // CALL optimize materializes the vectors; scans return to pure
    // vectorized and results are unchanged
    spark.sql("CALL graft.system.optimize('db.mor')")
    val after = LakeTable.snapshot(spark, root)
    assert(after.entries.forall(_.dv.isEmpty), "OPTIMIZE must materialize vectors")
    assert(spark.sql("SELECT count(*) c FROM graft.db.mor").head.getLong(0) === 26)

    // flipping the mode back routes the next DELETE through COW
    spark.sql("ALTER TABLE graft.db.mor SET TBLPROPERTIES (deleteMode 'cow')")
    val rels2 = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    spark.sql("DELETE FROM graft.db.mor WHERE k = 8")
    val s2 = LakeTable.snapshot(spark, root)
    assert(s2.entries.forall(_.dv.isEmpty))
    assert(s2.entries.map(_.rel).toSet !== rels2, "COW delete rewrites files")
    assert(spark.sql("SELECT count(*) c FROM graft.db.mor").head.getLong(0) === 25)
  }

  test("mor table: streaming append face treats a DV commit as a change commit") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.morst (k BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES (deleteMode 'mor')")
    spark.sql("INSERT INTO graft.db.morst SELECT id, cast(id % 2 as string) FROM range(10)")
    spark.sql("DELETE FROM graft.db.morst WHERE k = 4")
    val root = s"$wh/db/morst"
    // without skipChangeCommits the stream refuses the DV commit crisply
    val ck1 = Files.createTempDirectory("morst-ck1").toString
    val out1 = Files.createTempDirectory("morst-out1").toString
    val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      spark.readStream.format("graft-lake").load(root)
        .writeStream.format("parquet").option("checkpointLocation", ck1)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start(out1).awaitTermination()
    }
    assert(e.getMessage.contains("deletion-vector") || (e.getCause != null &&
      e.getCause.getMessage.contains("deletion-vector")), e.getMessage)
    // with skipChangeCommits the appends stream and the delete commit skips
    val ck2 = Files.createTempDirectory("morst-ck2").toString
    val out2 = Files.createTempDirectory("morst-out2").toString
    spark.readStream.format("graft-lake").option("skipChangeCommits", "true").load(root)
      .writeStream.format("parquet").option("checkpointLocation", ck2)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start(out2).awaitTermination()
    assert(spark.read.parquet(out2).count() === 10,
      "the original append streams; the skipped DV commit is not re-delivered")
  }

  test("correlated assignment values in UPDATE and MERGE SET") {
    val t = mkTable() // k=0..29, p=k%3, v=k*10
    spark.sql("CREATE OR REPLACE TEMP VIEW refv AS " +
      "SELECT id AS rk, id * 1000 AS rv FROM range(10)")

    // correlated scalar in UPDATE SET: per-row lookup, staged once
    spark.sql(s"UPDATE $t SET v = (SELECT rv FROM refv WHERE rk = k) WHERE k < 10")
    assert(spark.sql(s"SELECT sum(v) s FROM $t WHERE k < 10").head.getLong(0) ===
      (0 until 10).map(_ * 1000L).sum)
    assert(spark.sql(s"SELECT sum(v) s FROM $t WHERE k >= 10").head.getLong(0) ===
      (10 until 30).map(_ * 10L).sum, "non-qualifying rows untouched")

    // correlated AGGREGATE scalar mixing outer arithmetic
    spark.sql(s"UPDATE $t SET v = k + (SELECT sum(rv) FROM refv WHERE rk % 3 = k % 3) " +
      "WHERE k >= 10 AND k < 13")
    def sumFor(m: Long) = (0 until 10).filter(_ % 3 == m).map(_ * 1000L).sum
    (10L until 13L).foreach { k =>
      assert(spark.sql(s"SELECT v FROM $t WHERE k = $k").head.getLong(0) ===
        k + sumFor(k % 3), s"k=$k")
    }

    // a lookup with NO match assigns NULL (ANSI scalar subquery)
    spark.sql(s"UPDATE $t SET v = (SELECT rv FROM refv WHERE rk = k - 100) WHERE k = 20")
    assert(spark.sql(s"SELECT v FROM $t WHERE k = 20").head.isNullAt(0))

    // correlated value in a MERGE SET (references both sides)
    spark.sql("CREATE OR REPLACE TEMP VIEW csrc2 AS SELECT id AS k FROM range(25, 28)")
    spark.sql(s"MERGE INTO $t t USING csrc2 s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = t.k + (SELECT rv FROM refv WHERE rk = s.k - 20)")
    (25L until 28L).foreach { k =>
      assert(spark.sql(s"SELECT v FROM $t WHERE k = $k").head.getLong(0) ===
        k + (k - 20) * 1000L, s"merge k=$k")
    }
  }

  test("mor table: MERGE tombstones + appends in one commit, no file rewrite") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.mm (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k', deleteMode 'mor')")
    spark.sql("INSERT INTO graft.db.mm SELECT id, cast(id % 3 as string), id * 10 FROM range(30)")
    val root = s"$wh/db/mm"
    val v0 = LakeTable.snapshot(spark, root).version
    val before = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet

    // source-wins upsert: matched 25..29 tombstone + re-append, 30..34 insert
    spark.sql("CREATE OR REPLACE TEMP VIEW mmsrc AS " +
      "SELECT id AS k, cast('9' as string) AS p, id * 100 AS v FROM range(25, 35)")
    spark.sql("MERGE INTO graft.db.mm t USING mmsrc s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    val s1 = LakeTable.snapshot(spark, root)
    assert(s1.version === v0 + 1, "tombstones and appends must ride ONE commit")
    assert(before.subsetOf(s1.entries.map(_.rel).toSet),
      "a MOR merge must keep every original file")
    assert(s1.entries.exists(_.dv.isDefined), "tombstone vectors recorded")
    assert(spark.sql("SELECT count(*) c FROM graft.db.mm").head.getLong(0) === 35)
    assert(spark.sql("SELECT count(*) c FROM graft.db.mm WHERE v >= 2500 AND p = '9'")
      .head.getLong(0) === 10)

    // clause merge: conditional DELETE + UPDATE, first clause wins
    spark.sql("CREATE OR REPLACE TEMP VIEW mmsrc2 AS SELECT id AS k FROM range(0, 10)")
    spark.sql("MERGE INTO graft.db.mm t USING mmsrc2 s ON t.k = s.k " +
      "WHEN MATCHED AND t.k < 5 THEN DELETE " +
      "WHEN MATCHED THEN UPDATE SET v = t.v + 1")
    assert(spark.sql("SELECT count(*) c FROM graft.db.mm").head.getLong(0) === 30)
    assert(spark.sql("SELECT sum(v) s FROM graft.db.mm WHERE k >= 5 AND k < 10")
      .head.getLong(0) === (5 until 10).map(_ * 10 + 1).sum)

    // by-source clauses ride the MOR arm too: the READ is a full scan
    // (every target row's fate is join-dependent) but fired rows
    // tombstone into deletion vectors — zero files rewritten or dropped
    val relsPre = LakeTable.snapshot(spark, root).entries.map(_.rel).toSet
    spark.sql("MERGE INTO graft.db.mm t USING mmsrc2 s ON t.k = s.k " +
      "WHEN NOT MATCHED BY SOURCE AND t.k >= 30 THEN DELETE")
    assert(spark.sql("SELECT count(*) c FROM graft.db.mm").head.getLong(0) === 25)
    assert(LakeTable.snapshot(spark, root).entries.map(_.rel).toSet === relsPre,
      "a by-source MOR DELETE must be tombstones only — no rewrite, no append")

    // OPTIMIZE materializes the merge's vectors away, content unchanged
    val cents0 = spark.sql("SELECT sum(v) s FROM graft.db.mm").head.getLong(0)
    spark.sql("CALL graft.system.optimize('db.mm')")
    val s3 = LakeTable.snapshot(spark, root)
    assert(s3.entries.forall(_.dv.isEmpty))
    assert(spark.sql("SELECT sum(v) s FROM graft.db.mm").head.getLong(0) === cents0)
  }

  test("identity invariants hold through MERGE and UPDATE (SET refused, hw advanced)") {
    n += 1
    val t = s"graft.db.t$n"
    val _ = wh
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING, " +
      "id BIGINT GENERATED ALWAYS AS IDENTITY) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $t (k, p) SELECT id, 'a' FROM range(5)")
    def chain(x: Throwable): Seq[Throwable] = if (x == null) Nil else x +: chain(x.getCause)
    def ids(): Seq[Long] = spark.sql(s"SELECT id FROM $t").collect().map(_.getLong(0)).toSeq

    // UPDATE SET on an identity column refuses (COW and MOR paths share the gate)
    val e1 = intercept[Exception](spark.sql(s"UPDATE $t SET id = 1 WHERE k = 0"))
    assert(chain(e1).exists(c => c.getMessage != null &&
      c.getMessage.contains("IDENTITY")), s"got: $e1")

    spark.sql("CREATE OR REPLACE TEMP VIEW idsrc AS SELECT id AS k FROM range(3, 8)")
    // MERGE matched UPDATE SET on identity refuses
    val e2 = intercept[Exception](spark.sql(s"MERGE INTO $t t USING idsrc s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET id = 0"))
    assert(chain(e2).exists(c => c.getMessage != null &&
      c.getMessage.contains("IDENTITY")), s"got: $e2")
    // MERGE insert branch assigning a GENERATED ALWAYS identity refuses
    val e3 = intercept[Exception](spark.sql(s"MERGE INTO $t t USING idsrc s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (k, p, id) VALUES (s.k, 'b', 1)"))
    assert(chain(e3).exists(c => c.getMessage != null &&
      c.getMessage.contains("IDENTITY")), s"got: $e3")

    // MERGE NOT MATCHED INSERT allocates, and the high-water advances in
    // the SAME commit — deleting the merge-inserted top rows can never
    // free their values for reuse
    spark.sql(s"MERGE INTO $t t USING idsrc s ON t.k = s.k " +
      "WHEN NOT MATCHED THEN INSERT (k, p) VALUES (s.k, 'b')")
    val afterMerge = ids()
    assert(afterMerge.size === 8 && afterMerge.distinct.size === 8,
      "merge-inserted ids must be unique")
    val maxBefore = afterMerge.max
    spark.sql(s"DELETE FROM $t WHERE id > ${maxBefore - 3}")
    spark.sql(s"INSERT INTO $t (k, p) VALUES (99, 'c')")
    assert(ids().max > maxBefore,
      "merge-allocated identity values must never be reused after DELETE")

    // UNSET of the engine-maintained high-water pin refuses (symmetric
    // with the SET fence)
    val e4 = intercept[Exception](
      spark.sql(s"ALTER TABLE $t UNSET TBLPROPERTIES ('identity.hw.id')"))
    assert(chain(e4).exists(c => c.getMessage != null &&
      c.getMessage.contains("identity")), s"got: $e4")
  }

  test("MERGE matched UPDATE recomputes generated columns it does not assign") {
    n += 1
    val t = s"graft.db.t$n"
    val _ = wh
    spark.sql(s"CREATE TABLE $t (k BIGINT, p STRING, " +
      "dek BIGINT GENERATED ALWAYS AS (k % 10)) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $t (k, p) SELECT id, 'a' FROM range(5)")
    spark.sql("CREATE OR REPLACE TEMP VIEW gsrc AS SELECT id AS k FROM range(2, 7)")
    // updating the referenced column must regenerate dek, not trip the
    // write-path invariant on the stale value
    spark.sql(s"MERGE INTO $t t USING gsrc s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET k = t.k + 101 " +
      "WHEN NOT MATCHED THEN INSERT (k, p) VALUES (s.k, 'b')")
    val rows = spark.sql(s"SELECT k, dek FROM $t").collect()
    assert(rows.length === 7, s"got ${rows.toSeq}")
    assert(rows.forall(r => r.getLong(1) === r.getLong(0) % 10),
      s"generated column must track the updated base column: ${rows.toSeq}")
  }

  test("logical CREATE VIEW: create, query with pruning intact, list, rename, drop") {
    val t = mkTable()
    spark.sql(s"CREATE VIEW graft.db.vfull AS SELECT p, k, v FROM $t WHERE k < 20")
    assert(spark.sql("SELECT count(*) c FROM graft.db.vfull").head.getLong(0) === 20)
    // the stored SQL substitutes at read time: an outer filter on k must
    // still prune lake files through the view (1 of 3+ data files read)
    assert(spark.sql("SELECT sum(v) s FROM graft.db.vfull WHERE k = 5")
      .head.getLong(0) === 50)
    assert(v2ScannedFiles(
      spark.sql("SELECT v FROM graft.db.vfull WHERE p = '1'")) === 1,
      "partition pruning must survive view substitution")

    // view-over-view composes; aggregates through both layers
    spark.sql("CREATE VIEW graft.db.vtop AS " +
      "SELECT p, sum(v) AS s FROM graft.db.vfull GROUP BY p")
    assert(spark.sql("SELECT sum(s) t FROM graft.db.vtop").head.getLong(0) ===
      (0L until 20L).map(_ * 10).sum)

    // SHOW VIEWS lists both; DROP removes exactly one
    val shown = spark.sql("SHOW VIEWS IN graft.db").collect().map(_.getString(1)).toSet
    assert(Set("vfull", "vtop").subsetOf(shown), shown.toString)
    // rename through ALTER VIEW ... RENAME
    spark.sql("ALTER VIEW graft.db.vtop RENAME TO graft.db.vtop2")
    assert(spark.sql("SELECT count(*) c FROM graft.db.vtop2").head.getLong(0) === 3)
    // the view definition is FROZEN SQL: new source rows flow through
    spark.sql(s"INSERT INTO $t VALUES (100, '9', 1000), (5, '9', 1)")
    assert(spark.sql("SELECT count(*) c FROM graft.db.vfull").head.getLong(0) === 21)
    spark.sql("DROP VIEW graft.db.vtop2")
    intercept[Exception](spark.sql("SELECT * FROM graft.db.vtop2").collect())
    assert(spark.sql("SELECT count(*) c FROM graft.db.vfull").head.getLong(0) === 21)
    // CREATE OR REPLACE swaps the definition
    spark.sql(s"CREATE OR REPLACE VIEW graft.db.vfull AS SELECT k FROM $t WHERE k >= 100")
    assert(spark.sql("SELECT count(*) c FROM graft.db.vfull").head.getLong(0) === 1)
    // ALTER VIEW ... AS swaps in place; properties set/unset round-trip
    spark.sql(s"ALTER VIEW graft.db.vfull AS SELECT k, v FROM $t WHERE k < 3")
    assert(spark.sql("SELECT sum(v) s FROM graft.db.vfull").head.getLong(0) === 30)
    spark.sql("ALTER VIEW graft.db.vfull SET TBLPROPERTIES ('team' = 'core')")
    intercept[Exception](
      spark.sql("ALTER VIEW graft.db.vfull UNSET TBLPROPERTIES ('nope')"))
    spark.sql("ALTER VIEW graft.db.vfull UNSET TBLPROPERTIES IF EXISTS ('nope')")
    spark.sql("ALTER VIEW graft.db.vfull UNSET TBLPROPERTIES ('team')")
    // cycles refuse at DDL time (the analyzer would otherwise chase
    // the substitution to its max-iterations error)
    spark.sql(s"CREATE VIEW graft.db.vc1 AS SELECT k FROM $t WHERE k < 5")
    spark.sql("CREATE VIEW graft.db.vc2 AS SELECT k FROM graft.db.vc1")
    val ec = intercept[Exception](
      spark.sql("ALTER VIEW graft.db.vc1 AS SELECT k FROM graft.db.vc2"))
    assert(ec.getMessage.contains("acyclic"), ec.getMessage)
    val ec2 = intercept[Exception](spark.sql(
      "CREATE OR REPLACE VIEW graft.db.vc1 AS SELECT k FROM graft.db.vc1 WHERE k > 1"))
    assert(ec2.getMessage.contains("acyclic"), ec2.getMessage)
    assert(spark.sql("SELECT count(*) c FROM graft.db.vc2").head.getLong(0) === 5,
      "refused DDL must leave the old definitions intact")
    spark.sql("DROP VIEW graft.db.vc2")
    spark.sql("DROP VIEW graft.db.vc1")
    // a streaming read of a logical view refuses crisply
    val es = intercept[Exception](
      spark.readStream.table("graft.db.vfull").writeStream.format("noop").start())
    assert(es.getMessage.contains("streaming reads of logical view"), es.getMessage)
    spark.sql("DROP VIEW graft.db.vfull")
  }

  test("SQL materialized views: CREATE/REFRESH/DROP MATERIALIZED VIEW") {
    val t = mkTable() // k BIGINT, p STRING, v BIGINT; 30 rows
    // single-table view: WHERE + a derived group key + three aggregates
    spark.sql("CREATE MATERIALIZED VIEW graft.db.msql AS " +
      s"SELECT p, k % 4 AS kmod, count(*) AS cnt, sum(v) AS sum_v, max(v) " +
      s"FROM $t WHERE v >= 20 GROUP BY p, k % 4")
    def fresh(): Seq[Seq[Any]] = spark.sql(
      s"SELECT p, k % 4 AS kmod, count(*) cnt, sum(v) sum_v, max(v) max_v " +
        s"FROM $t WHERE v >= 20 GROUP BY p, k % 4 ORDER BY p, kmod")
      .collect().toSeq.map(_.toSeq)
    def stored(): Seq[Seq[Any]] = spark.sql(
      "SELECT p, kmod, cnt, sum_v, max_v FROM graft.db.msql ORDER BY p, kmod")
      .collect().toSeq.map(_.toSeq)
    assert(stored() === fresh())
    // a DML wave crossing the filter both ways; REFRESH folds it
    spark.sql(s"DELETE FROM $t WHERE k % 5 = 1")
    spark.sql(s"UPDATE $t SET v = 5 WHERE k = 8")
    spark.sql(s"UPDATE $t SET v = v + 1000 WHERE k = 3")
    spark.sql(s"INSERT INTO $t VALUES (100, '1', 730)")
    val head = spark.sql("REFRESH MATERIALIZED VIEW graft.db.msql").head.getLong(0)
    assert(head === graft.operators.LakeTable
      .snapshot(spark, s"$wh/db/${t.stripPrefix("graft.db.")}").version)
    assert(stored() === fresh())

    // join view: WHERE conjuncts route to the side each one references
    val f2 = "graft.db.fsql"
    val d2 = "graft.db.dsql"
    spark.sql(s"CREATE TABLE $f2 (k BIGINT, fk BIGINT, v BIGINT) " +
      "PARTITIONED BY (fk) TBLPROPERTIES (statsCols 'k,fk')")
    spark.sql(s"INSERT INTO $f2 SELECT id, id % 3, id * 10 FROM range(30)")
    spark.sql(s"CREATE TABLE $d2 (dk BIGINT, seg STRING, act BOOLEAN) " +
      "PARTITIONED BY (seg) TBLPROPERTIES (statsCols 'dk')")
    spark.sql(s"INSERT INTO $d2 SELECT id, concat('g', id % 2), id != 1 FROM range(3)")
    spark.sql("CREATE MATERIALIZED VIEW graft.db.mjsql AS " +
      s"SELECT seg, count(*) AS cnt, sum(v) FROM $f2 JOIN $d2 ON fk = dk " +
      "WHERE v >= 20 AND act = true GROUP BY seg")
    def freshJ(): Seq[Seq[Any]] = spark.sql(
      s"SELECT seg, count(*) cnt, sum(v) sum_v FROM $f2 JOIN $d2 ON fk = dk " +
        "WHERE v >= 20 AND act = true GROUP BY seg ORDER BY seg")
      .collect().toSeq.map(_.toSeq)
    def storedJ(): Seq[Seq[Any]] = spark.sql(
      "SELECT seg, cnt, sum_v FROM graft.db.mjsql ORDER BY seg")
      .collect().toSeq.map(_.toSeq)
    assert(storedJ() === freshJ())
    // waves on both sides, incl. dim rows crossing the act boundary
    spark.sql(s"UPDATE $d2 SET act = false WHERE dk = 0")
    spark.sql(s"UPDATE $d2 SET act = true WHERE dk = 1")
    spark.sql(s"DELETE FROM $f2 WHERE k % 4 = 1")
    spark.sql("REFRESH MATERIALIZED VIEW graft.db.mjsql")
    assert(storedJ() === freshJ())

    // SHOW CREATE renders the matview DEFINITION (a plain CREATE TABLE
    // would re-execute to a table that does not refresh) and the DDL
    // re-executes to an equivalent view
    val mddl = spark.sql("SHOW CREATE TABLE graft.db.mjsql").head.getString(0)
    assert(mddl.startsWith("CREATE MATERIALIZED VIEW"), mddl)
    spark.sql(mddl.replace("graft.db.mjsql", "graft.db.mjsql2"))
    assert(spark.sql("SELECT * FROM graft.db.mjsql2 ORDER BY seg").collect().toSeq ===
      spark.sql("SELECT * FROM graft.db.mjsql ORDER BY seg").collect().toSeq)
    spark.sql("DROP MATERIALIZED VIEW graft.db.mjsql2")
    val sddl = spark.sql("SHOW CREATE TABLE graft.db.msql").head.getString(0)
    assert(sddl.contains("AS kmod") && sddl.contains("WHERE"), sddl)
    spark.sql(sddl.replace("graft.db.msql", "graft.db.msql2"))
    assert(spark.sql("SELECT * FROM graft.db.msql2 ORDER BY p, kmod").collect().toSeq ===
      spark.sql("SELECT * FROM graft.db.msql ORDER BY p, kmod").collect().toSeq)
    spark.sql("DROP MATERIALIZED VIEW graft.db.msql2")

    // expression group keys on a JOIN view through pure SQL
    spark.sql("CREATE MATERIALIZED VIEW graft.db.mjek AS " +
      s"SELECT dk % 2 AS dband, count(*) AS cnt, sum(v) FROM $f2 JOIN $d2 " +
      "ON fk = dk GROUP BY dk % 2")
    def freshK(): Seq[Seq[Any]] = spark.sql(
      s"SELECT dk % 2 dband, count(*) cnt, sum(v) sum_v FROM $f2 JOIN $d2 " +
        "ON fk = dk GROUP BY dk % 2 ORDER BY dband").collect().toSeq.map(_.toSeq)
    def storedK(): Seq[Seq[Any]] = spark.sql(
      "SELECT dband, cnt, sum_v FROM graft.db.mjek ORDER BY dband")
      .collect().toSeq.map(_.toSeq)
    assert(storedK() === freshK())
    spark.sql(s"DELETE FROM $f2 WHERE k % 7 = 0")
    spark.sql("REFRESH MATERIALIZED VIEW graft.db.mjek")
    assert(storedK() === freshK())
    spark.sql("DROP MATERIALIZED VIEW graft.db.mjek")

    // refusals name the unsupported piece; nothing is half-created
    def refused(sql: String, frag: String): Unit = {
      val e = intercept[Exception](spark.sql(sql))
      assert(e.getMessage.contains(frag), s"$sql => ${e.getMessage}")
    }
    refused(s"CREATE MATERIALIZED VIEW graft.db.mbad AS SELECT k, v FROM $t",
      "GROUP BY aggregate")
    refused("CREATE MATERIALIZED VIEW graft.db.mbad AS " +
      s"SELECT p, count(*) AS n FROM $t GROUP BY p", "stored as 'cnt'")
    refused("CREATE MATERIALIZED VIEW graft.db.mbad AS " +
      s"SELECT p, stddev(v) FROM $t GROUP BY p", "unsupported aggregate")
    refused("CREATE MATERIALIZED VIEW graft.db.mbad AS " +
      s"SELECT p, sum(v + 1) FROM $t GROUP BY p", "bare source columns")
    refused("CREATE MATERIALIZED VIEW graft.db.mbad AS " +
      s"SELECT seg, count(*) FROM $f2 JOIN $d2 ON fk = dk " +
      "WHERE k + dk > 0 GROUP BY seg", "one join side")
    refused("CREATE MATERIALIZED VIEW graft.db.msql AS " +
      s"SELECT p, count(*) FROM $t GROUP BY p", "already exists")
    intercept[Exception](spark.sql("SELECT * FROM graft.db.mbad").collect())

    // DROP MATERIALIZED VIEW drops exactly materialized views
    val ed = intercept[Exception](spark.sql(s"DROP MATERIALIZED VIEW $t"))
    assert(ed.getMessage.contains("not a materialized view"), ed.getMessage)
    spark.sql("DROP MATERIALIZED VIEW graft.db.mjsql")
    intercept[Exception](spark.sql("SELECT * FROM graft.db.mjsql").collect())
    spark.sql("DROP MATERIALIZED VIEW graft.db.msql")
  }

  test("SHOW CREATE TABLE round-trips graft tables (clauses, transform, props, " +
      "constraints) and views") {
    val _ = wh
    spark.sql("CREATE TABLE graft.db.sct (k BIGINT NOT NULL, p STRING, " +
      "v BIGINT DEFAULT 7, dek BIGINT GENERATED ALWAYS AS (k % 10), " +
      "idn BIGINT GENERATED BY DEFAULT AS IDENTITY (START WITH 5 INCREMENT BY 2)) " +
      "PARTITIONED BY (bucket(8, k)) " +
      "TBLPROPERTIES (statsCols 'k,v', deleteMode 'mor', team 'core')")
    spark.sql("ALTER TABLE graft.db.sct ADD CONSTRAINT pos CHECK (v >= 0)")
    val ddl = spark.sql("SHOW CREATE TABLE graft.db.sct").head.getString(0)
    // the DDL re-executes (CREATE + the trailing ADD CONSTRAINT) to an
    // equivalent table under a new name
    ddl.replace("graft.db.sct", "graft.db.sct2")
      .split(";").map(_.trim).filter(_.nonEmpty).foreach(spark.sql(_))
    val m1 = LakeTable.snapshot(spark, s"$wh/db/sct").meta.get
    val m2 = LakeTable.snapshot(spark, s"$wh/db/sct2").meta.get
    assert(m2.schema === m1.schema, s"\n$ddl")
    assert(m2.partitionCol === m1.partitionCol && m2.partitionFn === m1.partitionFn)
    assert(m2.statsCols === m1.statsCols && m2.deleteMode === m1.deleteMode)
    assert(m2.checks === m1.checks)
    assert(m2.props.get("team") === Some("core"))
    // internal bookkeeping must NOT leak into the DDL
    assert(!ddl.contains("identity.hw.") && !ddl.contains("mv."), ddl)
    // behavioral equivalence: generated/identity/constraint all live
    spark.sql("INSERT INTO graft.db.sct2 (k, p, v) VALUES (42, 'a', 1)")
    val row = spark.sql("SELECT dek, idn FROM graft.db.sct2").head
    assert(row.getLong(0) === 2 && row.getLong(1) === 5)
    intercept[Exception](
      spark.sql("INSERT INTO graft.db.sct2 (k, p, v) VALUES (1, 'a', -5)"))

    // views: aliases, comments, properties and the stored SQL round-trip
    spark.sql("CREATE VIEW graft.db.vsct (a COMMENT 'key') " +
      "AS SELECT k FROM graft.db.sct WHERE k >= 0")
    spark.sql("ALTER VIEW graft.db.vsct SET TBLPROPERTIES ('team' = 'core')")
    val vddl = spark.sql("SHOW CREATE TABLE graft.db.vsct").head.getString(0)
    spark.sql(vddl.replace("graft.db.vsct", "graft.db.vsct2"))
    assert(spark.sql("SELECT * FROM graft.db.vsct2").columns.toSeq === Seq("a"))
    assert(vddl.contains("'team' = 'core'"), vddl)
    Seq("vsct2", "vsct").foreach(v => spark.sql(s"DROP VIEW graft.db.$v"))
  }

  test("views: CTE shadowing, subquery/CTE-body cycles, stored USE context, " +
      "ALTER AS column reset, SHOW VIEWS LIKE semantics") {
    val t = mkTable()
    try {
      // a CTE named like the view itself is the CTE, not a self-reference
      spark.sql("CREATE VIEW graft.db.wcte AS " +
        s"WITH wcte AS (SELECT k FROM $t WHERE k < 4) SELECT * FROM wcte")
      assert(spark.sql("SELECT count(*) c FROM graft.db.wcte").head.getLong(0) === 4)
      // a cycle routed through an EXISTS subquery still refuses at DDL time
      spark.sql(s"CREATE VIEW graft.db.wsub AS SELECT k FROM $t WHERE k < 6")
      val e1 = intercept[Exception](spark.sql("ALTER VIEW graft.db.wsub AS " +
        s"SELECT k FROM $t WHERE EXISTS (SELECT 1 FROM graft.db.wsub)"))
      assert(e1.getMessage.contains("acyclic"), e1.getMessage)
      // ... and one routed through a CTE definition BODY
      val e2 = intercept[Exception](spark.sql("ALTER VIEW graft.db.wsub AS " +
        "WITH c AS (SELECT k FROM graft.db.wsub) SELECT * FROM c"))
      assert(e2.getMessage.contains("acyclic"), e2.getMessage)
      assert(spark.sql("SELECT count(*) c FROM graft.db.wsub").head.getLong(0) === 6,
        "refused ALTERs must leave the definition intact")

      // unqualified body names bind to the CREATE-time catalog/namespace,
      // not the reader's USE context (the DSv2 ViewCatalog contract)
      spark.sql("USE graft.db")
      val bare = t.stripPrefix("graft.db.")
      spark.sql(s"CREATE VIEW graft.db.wuq AS SELECT k, v FROM $bare WHERE k < 5")
      spark.sql("USE spark_catalog.default")
      assert(spark.sql("SELECT sum(v) s FROM graft.db.wuq").head.getLong(0) === 100)

      // ALTER VIEW ... AS replaces the definition INCLUDING the column
      // list: the old aliases must not re-apply over the new query
      spark.sql(s"CREATE VIEW graft.db.wals (a, b) AS SELECT k, v FROM $t WHERE k < 3")
      assert(spark.sql("SELECT sum(a) sa, sum(b) sb FROM graft.db.wals")
        .head.getLong(1) === 30)
      spark.sql(s"ALTER VIEW graft.db.wals AS SELECT k, v, p FROM $t WHERE k < 2")
      assert(spark.sql("SELECT * FROM graft.db.wals").columns.toSeq ===
        Seq("k", "v", "p"))

      // SHOW VIEWS LIKE: '|' alternatives are ANCHORED, '.' is a literal
      def shown(like: String): Set[String] =
        spark.sql(s"SHOW VIEWS IN graft.db LIKE '$like'")
          .collect().map(_.getString(1)).toSet
      assert(shown("wcte|wsub") === Set("wcte", "wsub"))
      assert(shown("w*q") === Set("wuq"))
      assert(shown("w.te") === Set.empty, "'.' must not act as a regex wildcard")
      assert(shown("cte|sub") === Set.empty, "alternatives must be anchored")
    } finally {
      spark.sql("USE spark_catalog.default")
      Seq("wcte", "wsub", "wuq", "wals").foreach(v =>
        spark.sql(s"DROP VIEW IF EXISTS graft.db.$v"))
    }
  }
}
