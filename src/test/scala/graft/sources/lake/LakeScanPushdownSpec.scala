package graft.sources.lake

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.LakeTable

/** The scan-layer pushdowns past filters/columns: metadata-only
  * aggregates (complete DSv2 aggregate pushdown answered from the
  * manifest — COUNT(*)/MIN/MAX plan as a driver-local row, zero files
  * read) and runtime V2 filtering (a broadcast join's actual key values
  * re-prune the manifest at execution time — dynamic pruning
  * generalized to stats-range and Bloom file skipping). Pins: the
  * pushed plans' shape (LocalTableScan vs BatchScan), value correctness
  * against recomputation, every refusal case (filters, unsupported
  * functions, GROUP BY, deletion vectors, uncovered columns), and that
  * runtime pruning never drops a matched row.
  */
class LakeScanPushdownSpec extends SparkSpec {

  private def freshRoot(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  /** Executed-plan string after running the frame. */
  private def ranPlan(df: DataFrame): String = {
    df.collect()
    df.queryExecution.executedPlan.toString
  }

  private def assertMetadataOnly(df: DataFrame): Unit = {
    val plan = ranPlan(df)
    assert(plan.contains("LocalTableScan"), s"expected LocalTableScan:\n$plan")
    assert(!plan.contains("BatchScan"), s"expected no file scan:\n$plan")
  }

  private def assertScans(df: DataFrame): Unit = {
    val plan = ranPlan(df)
    assert(plan.contains("BatchScan"), s"expected a real file scan:\n$plan")
  }

  test("metadata aggregates: COUNT/MIN/MAX answered from the manifest alone") {
    val root = freshRoot("graft-aggpush")
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING, price DOUBLE, ts TIMESTAMP) " +
      "PARTITIONED BY (p) TBLPROPERTIES (statsCols 'k,price,ts')")
    // three commits, nulls inside files (min/max ignore them, like SQL)
    spark.sql(s"INSERT INTO $lt SELECT id, cast(id % 3 as string), " +
      "CASE WHEN id % 7 = 0 THEN NULL ELSE id * 1.5 END, " +
      "timestamp'2024-03-01 00:00:00' + make_interval(0,0,0,0,0,CAST(id AS INT),0) " +
      "FROM range(90)")
    spark.sql(s"INSERT INTO $lt VALUES (-5, 'x', 0.25, timestamp'2023-12-31 23:59:59.123456')")
    spark.sql(s"INSERT INTO $lt VALUES (1000, NULL, 9999.75, timestamp'2025-01-01 00:00:00')")

    val agg = spark.sql(
      s"SELECT count(*) AS c, min(k) AS mnk, max(k) AS mxk, min(price) AS mnp, " +
        s"max(price) AS mxp, min(ts) AS mnt, max(ts) AS mxt FROM $lt")
    assertMetadataOnly(agg)
    val r = agg.head
    assert(r.getLong(0) === 92)
    assert(r.getLong(1) === -5L && r.getLong(2) === 1000L)
    assert(r.getDouble(3) === 0.25 && r.getDouble(4) === 9999.75)
    assert(r.getTimestamp(5).toString === "2023-12-31 23:59:59.123456")
    assert(r.getTimestamp(6).toString === "2025-01-01 00:00:00.0")

    // DataFrame face pushes identically
    assertMetadataOnly(spark.table(lt).agg(count(lit(1)), min("k"), max("price")))

    // the cells are UTC: a session in another zone reads the instant a
    // scan reads
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try {
      val la = spark.sql(s"SELECT max(ts) AS m FROM $lt")
      assertMetadataOnly(la)
      assert(la.head.getTimestamp(0) ===
        LakeTable.read(spark, root).agg(max("ts")).head.getTimestamp(0))
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")

    // time travel answers from THAT version's manifest
    val v1 = spark.sql(s"SELECT count(*) AS c, max(k) AS m FROM $lt VERSION AS OF 2")
    assertMetadataOnly(v1)
    assert(v1.head.getLong(0) === 90 && v1.head.getLong(1) === 89)

    // empty table: count 0, min/max NULL, still metadata-only
    val root2 = freshRoot("graft-aggpush-empty")
    spark.sql(s"CREATE TABLE graft.`$root2` (k BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k')")
    val empty = spark.sql(s"SELECT count(*) AS c, min(k) AS mn FROM graft.`$root2`")
    assertMetadataOnly(empty)
    assert(empty.head.getLong(0) === 0L && empty.head.isNullAt(1))
  }

  test("metadata aggregates: GROUP BY the partition column, from the manifest alone") {
    val root = freshRoot("graft-aggpush-grp")
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING, price DOUBLE) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k,price')")
    spark.sql(s"INSERT INTO $lt SELECT id, " +
      "CASE WHEN id % 11 = 10 THEN NULL ELSE cast(id % 3 as string) END, id * 0.5 " +
      "FROM range(90)")
    spark.sql(s"INSERT INTO $lt VALUES (900, '1', 450.0)")

    val q = spark.sql(s"SELECT p, count(*) AS c, min(k) AS mn, max(k) AS mx, " +
      s"max(price) AS mxp FROM $lt GROUP BY p")
    assertMetadataOnly(q)
    val got = q.collect().map(r => (Option(r.getString(0)),
      r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))).sortBy(_._1)
    // recompute relationally over the raw read (bypasses the pushdown)
    val exp = LakeTable.read(spark, root).collect()
      .map(r => (Option(r.getAs[String]("p")), r.getAs[Long]("k"), r.getAs[Double]("price")))
      .groupBy(_._1).toSeq
      .map { case (p, rs) =>
        (p, rs.length.toLong, rs.map(_._2).min, rs.map(_._2).max, rs.map(_._3).max) }
      .sortBy(_._1)
    assert(got.toSeq === exp.toSeq)
    assert(got.exists(_._1.isEmpty), "the null-sentinel partition must be the SQL null group")

    // grouping by anything else — or by the source column of a
    // TRANSFORM-partitioned table — scans
    assertScans(spark.sql(s"SELECT k % 2 AS g, count(*) AS c FROM $lt GROUP BY k % 2"))
    val root2 = freshRoot("graft-aggpush-grp2")
    spark.sql(s"CREATE TABLE graft.`$root2` (k BIGINT, ts TIMESTAMP) " +
      "PARTITIONED BY (months(ts))")
    spark.sql(s"INSERT INTO graft.`$root2` VALUES (1, timestamp'2024-01-05 00:00:00'), " +
      "(2, timestamp'2024-02-05 00:00:00')")
    assertScans(spark.sql(s"SELECT ts, count(*) AS c FROM graft.`$root2` GROUP BY ts"))
  }

  test("spec evolution: metadata GROUP BY folds per spec; mixed-spec snapshots scan") {
    val root = freshRoot("graft-aggpush-spec")
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING, ts TIMESTAMP) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k')")
    spark.sql(s"INSERT INTO $lt SELECT id, cast(id % 3 as string), " +
      "timestamp'2024-03-01 00:00:00' + make_interval(0, CAST(id % 2 AS INT)) FROM range(90)")
    // evolve the spec (metadata-only) — every LIVE file still carries
    // identity(p), so GROUP BY p answers from the manifest immediately,
    // no OPTIMIZE migration needed
    LakeTable.setPartitioning(spark, root, "ts", "months")
    val q = spark.sql(s"SELECT p, count(*) AS c, min(k) AS mn, max(k) AS mx " +
      s"FROM $lt GROUP BY p")
    assertMetadataOnly(q)
    assert(q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      .sortBy(_._1).toSeq ===
      Seq(("0", 30L, 0L, 87L), ("1", 30L, 1L, 88L), ("2", 30L, 2L, 89L)))

    // a second generation lands under months(ts): the snapshot is now
    // mixed-spec for p — GROUP BY p must fall back to a real scan (the
    // month files' rows span unknown p groups) and stay correct
    spark.sql(s"INSERT INTO $lt VALUES (1000, '1', timestamp'2024-05-05 00:00:00')")
    val q2 = spark.sql(s"SELECT p, count(*) AS c FROM $lt GROUP BY p")
    assertScans(q2)
    assert(q2.collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1).toSeq ===
      Seq(("0", 30L), ("1", 31L), ("2", 30L)))
    // GROUP BY the NEW spec's source column never answers from metadata
    // (months is a transform, not identity)
    assertScans(spark.sql(s"SELECT ts, count(*) AS c FROM $lt GROUP BY ts"))
  }

  test("SPJ keys on the single LIVE spec of an evolved-but-unwritten table") {
    val rootA = freshRoot("graft-spjev-a")
    val rootB = freshRoot("graft-spjev-b")
    spark.sql(s"CREATE TABLE graft.`$rootA` (k BIGINT, p BIGINT, v BIGINT) PARTITIONED BY (p)")
    spark.sql(s"CREATE TABLE graft.`$rootB` (k BIGINT, p BIGINT, v BIGINT) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO graft.`$rootA` SELECT id, id % 7, id * 10 FROM range(3000)")
    spark.sql(s"INSERT INTO graft.`$rootB` SELECT id, id % 7, id * 100 FROM range(2000)")
    // evolve ONE side's spec with no new writes: its live entries still
    // share the identity(p) spec, which is the keyed space that matters
    LakeTable.setPartitioning(spark, rootA, "k", "bucket:4")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = spark.sql(
        s"SELECT a.p, count(*) AS c, sum(a.v + b.v) AS s FROM graft.`$rootA` a " +
          s"JOIN graft.`$rootB` b ON a.p = b.p AND a.k = b.k GROUP BY a.p")
      val rows = q.collect()
      val expected = (0L until 2000L).groupBy(_ % 7).toSeq.sortBy(_._1)
        .map { case (p, ks) => (p, ks.size.toLong, ks.map(k => k * 110).sum) }
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq === expected)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"live-spec SPJ must remove every shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")

      // once a bucket-spec file lands, A is mixed-spec → SPJ refuses
      // (shuffles come back) but the join stays correct
      spark.sql(s"INSERT INTO graft.`$rootA` VALUES (5000, 3, 1)")
      val q2 = spark.sql(
        s"SELECT count(*) AS c FROM graft.`$rootA` a " +
          s"JOIN graft.`$rootB` b ON a.p = b.p AND a.k = b.k")
      assert(q2.collect().head.getLong(0) === 2000L)
      assert(q2.queryExecution.executedPlan.toString.contains("Exchange"),
        "mixed-spec snapshots must not report keyed partitioning")
    }
  }

  test("metadata aggregates refuse: filters, GROUP BY, other functions, uncovered columns") {
    val root = freshRoot("graft-aggpush-ref")
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k')")
    spark.sql(s"INSERT INTO $lt SELECT id, cast(id % 3 as string), id * 10 FROM range(60)")

    // a WHERE clause cannot be honored from metadata — real scan, right answer
    val filtered = spark.sql(s"SELECT count(*) AS c, min(k) AS mn FROM $lt WHERE k >= 30")
    assertScans(filtered)
    assert(filtered.head.getLong(0) === 30 && filtered.head.getLong(1) === 30)

    // GROUP BY a non-partition column, SUM, and a stats-less column scan
    assertScans(spark.sql(s"SELECT v, count(*) AS c FROM $lt GROUP BY v"))
    assertScans(spark.sql(s"SELECT sum(k) AS s FROM $lt"))
    val mv = spark.sql(s"SELECT min(v) AS mn FROM $lt")
    assertScans(mv)
    assert(mv.head.getLong(0) === 0L)
  }

  test("deletion vectors: COUNT stays metadata-only (live rows), MIN/MAX scans") {
    val root = freshRoot("graft-aggpush-dv")
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k', deleteMode 'mor')")
    spark.sql(s"INSERT INTO $lt SELECT id, cast(id % 2 as string) FROM range(40)")
    spark.sql(s"DELETE FROM $lt WHERE k < 10")
    assert(LakeTable.snapshot(spark, root).entries.exists(_.dv.isDefined),
      "the mor delete must have recorded a deletion vector")

    val cnt = spark.sql(s"SELECT count(*) AS c FROM $lt")
    assertMetadataOnly(cnt)
    assert(cnt.head.getLong(0) === 30)

    // the recorded min (0) is a DELETED row — metadata would lie; scan
    val mn = spark.sql(s"SELECT min(k) AS mn FROM $lt")
    assertScans(mn)
    assert(mn.head.getLong(0) === 10L)
  }

  /** Set session confs for the block, restoring previous values. */
  private def withConfs(kv: (String, String)*)(body: => Unit): Unit = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body finally old.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("storage-partitioned join: co-partitioned lake tables join with zero shuffles") {
    val rootA = freshRoot("graft-spj-a")
    val rootB = freshRoot("graft-spj-b")
    spark.sql(s"CREATE TABLE graft.`$rootA` (k BIGINT, p BIGINT, v BIGINT) PARTITIONED BY (p)")
    spark.sql(s"CREATE TABLE graft.`$rootB` (k BIGINT, p BIGINT, v BIGINT) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO graft.`$rootA` SELECT id, id % 7, id * 10 FROM range(3000)")
    spark.sql(s"INSERT INTO graft.`$rootB` SELECT id, id % 7, id * 100 FROM range(2000)")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // no ORDER BY: a global sort legitimately range-shuffles; the pin
      // is about the join + same-key aggregate
      val q = spark.sql(
        s"SELECT a.p, count(*) AS c, sum(a.v + b.v) AS s FROM graft.`$rootA` a " +
          s"JOIN graft.`$rootB` b ON a.p = b.p AND a.k = b.k GROUP BY a.p")
      val rows = q.collect()
      // correctness: a 1:1 join on k for k < 2000, grouped by k % 7
      val expected = (0L until 2000L).groupBy(_ % 7).toSeq.sortBy(_._1)
        .map { case (p, ks) => (p, ks.size.toLong, ks.map(k => k * 110).sum) }
      assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .sortBy(_._1).toSeq === expected)
      // the whole plan — join AND the following same-key aggregate —
      // runs on the reported key-grouped partitioning: zero exchanges
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"SPJ must remove every shuffle:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    }
    // without the conf the same query plans shuffles (the gate works)
    withConfs("spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q2 = spark.sql(
        s"SELECT a.p, count(*) AS c FROM graft.`$rootA` a " +
          s"JOIN graft.`$rootB` b ON a.p = b.p AND a.k = b.k GROUP BY a.p")
      q2.collect()
      assert(q2.queryExecution.executedPlan.toString.contains("Exchange"))
    }
  }

  test("SPJ composes with static pruning and MISMATCHED partition-value sets") {
    val rootA = freshRoot("graft-spjm-a")
    val rootB = freshRoot("graft-spjm-b")
    spark.sql(s"CREATE TABLE graft.`$rootA` (k BIGINT, p BIGINT, v BIGINT) PARTITIONED BY (p)")
    spark.sql(s"CREATE TABLE graft.`$rootB` (k BIGINT, p BIGINT, v BIGINT) PARTITIONED BY (p)")
    // A has partitions 0..6, B only 0..4 — pushPartValues must align the
    // differing sets (missing partitions join empty, not wrong)
    spark.sql(s"INSERT INTO graft.`$rootA` SELECT id, id % 7, id FROM range(1400)")
    spark.sql(s"INSERT INTO graft.`$rootB` SELECT id, id % 5, id * 10 FROM range(1400)")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      val q = spark.sql(
        s"SELECT count(*) AS c, sum(b.v) AS s FROM graft.`$rootA` a " +
          s"JOIN graft.`$rootB` b ON a.p = b.p AND a.k = b.k WHERE a.p >= 2")
      val r = q.collect().head
      // matches: k with k%7 == k%5 (>= 2): k mod 35 in {2,3,4} (+0,1 excluded)
      val ks = (0L until 1400L).filter(k => k % 7 == k % 5 && k % 7 >= 2)
      assert(r.getLong(0) === ks.size.toLong && r.getLong(1) === ks.map(_ * 10).sum)
      // the join itself is exchange-free; the only exchange is the
      // global aggregate's SinglePartition gather
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.replace("Exchange SinglePartition", "").contains("Exchange"),
        s"only the global-agg gather may shuffle:\n$plan")
    }
  }

  test("storage-partitioned join on BUCKET partitioning via the catalog bucket function") {
    val rootA = freshRoot("graft-spjb-a")
    val rootB = freshRoot("graft-spjb-b")
    for (r <- Seq(rootA, rootB))
      spark.sql(s"CREATE TABLE graft.`$r` (u STRING, v BIGINT) PARTITIONED BY (bucket(8, u))")
    spark.sql(s"INSERT INTO graft.`$rootA` SELECT concat('u', id), id FROM range(1000)")
    spark.sql(s"INSERT INTO graft.`$rootB` SELECT concat('u', id), id * 2 FROM range(600)")
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1") {
      // group by the join key: bucket(8, u) clusters by u, so the
      // aggregate rides the key-grouped partitioning too — zero
      // exchanges in the WHOLE plan
      val q = spark.sql(s"SELECT a.u, sum(a.v + b.v) AS s FROM graft.`$rootA` a " +
        s"JOIN graft.`$rootB` b ON a.u = b.u GROUP BY a.u")
      val rows = q.collect()
      assert(rows.length === 600)
      assert(rows.map(_.getLong(1)).sum === (0L until 600L).map(_ * 3).sum)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucket SPJ must remove the join shuffles:\n$plan")
      assert(plan.contains("SortMergeJoin"), s"expected a sort-merge join:\n$plan")
    }
    // the catalog functions are SQL-callable and write-consistent
    val parts = LakeTable.snapshot(spark, rootA).entries.map(_.part).toSet
    val b7 = spark.sql("SELECT graft.system.bucket(8, 'u7')").head.getInt(0)
    assert(parts.contains(b7.toString))
    assert(spark.sql("SELECT graft.system.bucket(8, CAST(NULL AS STRING))").head.isNullAt(0))
    assert(spark.sql("SELECT graft.system.truncate(3, 'abcdef')").head.getString(0) === "abc")
    assert(spark.sql("SELECT graft.system.truncate(25, CAST(-13 AS BIGINT))")
      .head.getLong(0) === -25L)
  }

  test("storage-partitioned join on TRUNCATE partitioning (string prefix + integral floor)") {
    val spjConfs = Seq(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true",
      "spark.sql.requireAllClusterKeysForCoPartition" -> "false",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")

    // string prefix: both sides partitioned by truncate(2, u)
    val (sa, sb) = (freshRoot("graft-spjt-sa"), freshRoot("graft-spjt-sb"))
    for (r <- Seq(sa, sb))
      spark.sql(s"CREATE TABLE graft.`$r` (u STRING, v BIGINT) PARTITIONED BY (truncate(2, u))")
    spark.sql(s"INSERT INTO graft.`$sa` SELECT concat('k', id % 10, '-', id), id FROM range(800)")
    spark.sql(s"INSERT INTO graft.`$sb` SELECT concat('k', id % 10, '-', id), id * 5 FROM range(500)")
    withConfs(spjConfs: _*) {
      val q = spark.sql(s"SELECT a.u, a.v + b.v AS s FROM graft.`$sa` a " +
        s"JOIN graft.`$sb` b ON a.u = b.u")
      assert(q.collect().length === 500)
      val plan = q.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), s"truncate(string) SPJ must not shuffle:\n$plan")
    }

    // integral floor: both sides partitioned by truncate(100, n)
    val (na, nb) = (freshRoot("graft-spjt-na"), freshRoot("graft-spjt-nb"))
    for (r <- Seq(na, nb))
      spark.sql(s"CREATE TABLE graft.`$r` (n BIGINT, v BIGINT) PARTITIONED BY (truncate(100, n))")
    spark.sql(s"INSERT INTO graft.`$na` SELECT id - 300, id FROM range(900)")
    spark.sql(s"INSERT INTO graft.`$nb` SELECT id - 300, id * 7 FROM range(600)")
    withConfs(spjConfs: _*) {
      val q = spark.sql(s"SELECT count(*) AS c FROM graft.`$na` a " +
        s"JOIN graft.`$nb` b ON a.n = b.n")
      assert(q.collect().head.getLong(0) === 600)
      val plan = q.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin"), s"expected SMJ:\n$plan")
      assert(!plan.replace("Exchange SinglePartition", "").contains("Exchange"),
        s"truncate(long) SPJ: only the global-agg gather may shuffle:\n$plan")
    }
  }

  test("manifest plan-time statistics: exact sizes, filter-aware, static broadcast") {
    val root = freshRoot("graft-stats")
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k')")
    spark.sql(s"INSERT INTO $lt SELECT id, cast(id % 3 as string), id FROM range(300)")

    val full = spark.table(lt).queryExecution.optimizedPlan.stats
    val manifestBytes = LakeTable.snapshot(spark, root).entries.flatMap(_.bytes).sum
    assert(full.sizeInBytes === BigInt(manifestBytes),
      s"plan stats must be the manifest's exact byte count, got ${full.sizeInBytes}")
    assert(full.rowCount.contains(BigInt(300)))

    // filter-aware: a partition predicate prunes the costed size
    val filtered = spark.table(lt).where(col("p") === "1")
      .queryExecution.optimizedPlan.stats
    assert(filtered.sizeInBytes < full.sizeInBytes,
      s"pushed filters must shrink plan-time size: $filtered vs $full")

    // the static planner broadcasts from manifest stats alone (AQE off)
    withConfs("spark.sql.adaptive.enabled" -> "false") {
      spark.range(300000).select(col("id").as("k"), (col("id") * 2).as("w"))
        .createOrReplaceTempView("stats_big")
      val j = spark.sql(s"SELECT sum(b.w) s FROM $lt l JOIN stats_big b ON l.k = b.k")
      assert(j.queryExecution.executedPlan.toString.contains("BroadcastHashJoin"),
        s"static plan must broadcast the small lake side:\n${j.queryExecution.executedPlan}")
    }

    // column min/max reach catalyst under CBO
    withConfs("spark.sql.cbo.enabled" -> "true") {
      val attrStats = spark.table(lt).where(col("k") >= 0)
        .queryExecution.optimizedPlan.stats.attributeStats
      val kStats = attrStats.find(_._1.name == "k").map(_._2)
      assert(kStats.exists(s => s.min.contains(0L) && s.max.contains(299L)),
        s"manifest min/max must reach CBO column stats, got $kStats")
    }
  }

  test("__files and __partitions metadata tables: manifest inspection, driver-local") {
    val d = java.nio.file.Files.createTempDirectory("graft-meta-cat").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.mt (k BIGINT, p STRING) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k', deleteMode 'mor')")
    spark.sql("INSERT INTO graft.db.mt SELECT id, cast(id % 2 as string) FROM range(40)")
    spark.sql("INSERT INTO graft.db.mt VALUES (100, NULL)")
    spark.sql("DELETE FROM graft.db.mt WHERE k < 6") // DV commit

    val files = spark.sql("SELECT * FROM graft.db.mt.__files")
    assertMetadataOnly(files)
    val fr = files.collect()
    assert(fr.map(_.getLong(2)).sum === 41, "rows must sum over all files")
    assert(fr.map(_.getLong(3)).sum === 35, "live_rows must subtract DV cardinalities")
    assert(fr.map(_.getLong(5)).sum === 6, "dv_cardinality must total the deleted positions")
    assert(fr.exists(_.isNullAt(0)), "the null partition shows as SQL NULL")
    assert(fr.forall(_.getString(1).nonEmpty) && fr.forall(_.getLong(4) > 0))
    assert(fr.forall(r => r.getString(6).startsWith("k=[")), "stats cells render")

    val parts = spark.sql(
      "SELECT partition, files, live_rows FROM graft.db.mt.__partitions ORDER BY partition")
    assertMetadataOnly(parts)
    val pr = parts.collect()
    assert(pr.length === 3)
    assert(pr.map(_.getLong(2)).sum === 35)
    // the SQL face composes: joins/filters over the metadata rows work
    assert(spark.sql("SELECT count(*) c FROM graft.db.mt.__files WHERE dv_cardinality > 0")
      .head.getLong(0) >= 1)

    // __history: one row per version, deltas vs the previous one; the
    // mor delete keeps the file set (DV only) but drops live rows
    val hist = spark.sql("SELECT * FROM graft.db.mt.__history ORDER BY version")
    assertMetadataOnly(hist)
    val hr = hist.collect()
    assert(hr.length === 4, "CREATE + 2 inserts + delete = 4 versions")
    assert(hr.map(_.getLong(0)).toSeq === Seq(1L, 2L, 3L, 4L))
    assert(hr(1).getLong(2) === 40 && hr(2).getLong(2) === 41)
    assert(hr(3).getLong(2) === 35, "the DV commit's live rows drop")
    assert(hr(3).getLong(3) === 0 && hr(3).getLong(5) === 0,
      "a mor delete adds and removes NO files")
    assert(hist.schema.fieldNames.toSeq === Seq("version", "files", "rows",
      "files_added", "rows_added", "files_removed", "rows_removed"))

    // snapshot-shaped metadata tables time-travel: v2's file accounting
    // (the first insert only; no deletion vectors yet)
    val v2 = spark.sql(
      "SELECT sum(`rows`) r, sum(live_rows) lr FROM graft.db.mt.__files VERSION AS OF 2")
    assertMetadataOnly(v2)
    assert(v2.head.getLong(0) === 40 && v2.head.getLong(1) === 40)
    assert(spark.sql(
      "SELECT sum(live_rows) lr FROM graft.db.mt.__partitions VERSION AS OF 3")
      .head.getLong(0) === 41)
  }

  test("__history survives vacuumed segmented versions (skips unreadable ones)") {
    val root = freshRoot("graft-hist-vac")
    val old = LakeTable.SegmentThreshold
    LakeTable.SegmentThreshold = 1 // force segmented manifests at toy size
    try {
      val lt = s"graft.`$root`"
      spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING) PARTITIONED BY (p)")
      for (i <- 0 until 3)
        spark.sql(s"INSERT INTO $lt SELECT id + ${i * 100}, cast(id % 2 as string) " +
          "FROM range(10)")
      // rewrite everything, then reclaim all unpinned history hard
      spark.sql(s"DELETE FROM $lt WHERE k % 2 = 0")
      spark.sql(s"CALL graft.system.vacuum(table => '$root', retain_hours => 0.0D, " +
        "keep_versions => 1)")
      val hist = spark.sql(s"SELECT version, `rows` FROM $lt.`__history` ORDER BY version")
      val hr = hist.collect()
      assert(hr.nonEmpty, "the readable tail of history must survive")
      assert(hr.last.getLong(0) === 5 && hr.last.getLong(1) === 15,
        s"the head version must report post-delete rows, got ${hr.toSeq}")
      // the DataFrame face walks the same rows without crashing either
      assert(LakeTable.history(spark, root).count() === hr.length.toLong)
    } finally LakeTable.SegmentThreshold = old
  }

  test("runtime filtering composes with key-grouped (SPJ) planning on one scan") {
    val root = freshRoot("graft-spj-rt")
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (u STRING, v BIGINT) PARTITIONED BY (bucket(8, u)) " +
      "TBLPROPERTIES (bloomCols 'u')")
    spark.sql(s"INSERT INTO $lt SELECT concat('u', id), id FROM range(1000)")
    spark.range(1000).select(concat(lit("u"), col("id")).as("fk"),
      concat(lit("n"), col("id")).as("nm")).createOrReplaceTempView("spjrt_dim")
    // v2 bucketing ON (the scan reports KeyGroupedPartitioning) while a
    // BROADCAST join fires DPP-style runtime filters into the same scan
    // — BatchScanExec's key-grouped runtime-filter branch must not trip
    withConfs(
      "spark.sql.sources.v2.bucketing.enabled" -> "true",
      "spark.sql.sources.v2.bucketing.pushPartValues.enabled" -> "true") {
      LakeScan.lastRuntimePrune.remove(root)
      val q = spark.sql(s"SELECT t.u, t.v FROM $lt t JOIN spjrt_dim d ON t.u = d.fk " +
        "WHERE d.nm = 'n37'")
      val rows = q.collect()
      assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq === Seq(("u37", 37L)))
    }
  }

  test("runtime V2 filtering: broadcast-join key values skip files at execution") {
    val root = freshRoot("graft-runtime")
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING, v BIGINT) PARTITIONED BY (p) " +
      "TBLPROPERTIES (statsCols 'k', bloomCols 'k')")
    spark.sql(s"INSERT INTO $lt SELECT id, cast(id % 2 as string), id * 3 FROM range(2000)")
    // cluster on k: many small files, each a tight k-range
    spark.sql(s"CALL graft.system.optimize(table => '$root', min_files => 1, " +
      "max_records_per_file => 100, sort_cols => 'k')")
    val total = LakeTable.snapshot(spark, root).entries.size
    assert(total > 10, s"need many files for a meaningful skip, got $total")

    // dim filtered on a NON-key attribute (so no static filter is
    // inferable on k — only the runtime filter can prune)
    spark.range(2000).select(col("id").as("fk"),
        concat(lit("n"), col("id")).as("nm"))
      .createOrReplaceTempView("rt_dim")
    LakeScan.lastRuntimePrune.remove(root)
    val q = spark.sql(s"SELECT t.k, t.v FROM $lt t JOIN rt_dim d ON t.k = d.fk " +
      "WHERE d.nm IN ('n42', 'n1951')")
    val rows = q.collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    assert(rows.toSeq === Seq((42L, 126L), (1951L, 5853L)))
    val prune = Option(LakeScan.lastRuntimePrune.get(root))
    assert(prune.exists { case (kept, tot) => tot == total && kept < tot && kept >= 1 },
      s"runtime filter must have pruned the listing, got $prune of $total")
  }
}
