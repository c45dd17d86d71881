package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.operators.{LakeTable, MatView}

/** Incrementally-maintained materialized views: the delta path
  * (cnt/sum — no source scan), the dirty-group path (min/max —
  * touched groups only), exactly-once refresh bookkeeping, SQL NULL
  * semantics of incrementally-updated sums, and the procedure faces.
  */
class MatViewSpec extends SparkSpec {

  private lazy val wh: String = {
    val d = Files.createTempDirectory("graft-mv").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    d
  }

  private var n = 0
  private def freshRoots(): (String, String) = {
    n += 1
    val _ = wh
    (s"$wh/src$n", s"$wh/mv$n")
  }

  /** The view's PUBLIC face == a fresh aggregate over the source. */
  private def assertInSync(src: String, mv: String, keys: Seq[String], aggs: Seq[String]): Unit = {
    val fresh = LakeTable.read(spark, src)
      .groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("cnt"), aggs.map(a => expr(a).as(a)): _*)
      .orderBy(keys.map(col): _*).collect().toSeq
    val stored = LakeTable.read(spark, mv)
      .select((keys :+ "cnt").map(col) ++ aggs.map(a =>
        col(a.replace("(", "_").replace(")", ""))): _*)
      .orderBy(keys.map(col): _*).collect().toSeq
    assert(stored.map(_.toSeq) === fresh.map(_.toSeq))
  }

  test("delta path: cnt/sum maintained from the change feed alone") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark,
      src, (0L until 30L).map(i => (i, s"p${i % 3}", i * 10L)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"))
    val v0 = MatView.create(spark, mv, src, Seq("p"), MatView.parseAggs("cnt,sum:v"))
    assert(v0 === 1)
    assertInSync(src, mv, Seq("p"), Seq("sum(v)"))

    // inserts, a delete and an update land; one refresh folds all three
    LakeTable.append(spark,
      src, Seq((100L, "p0", 7L), (101L, "p3", 5L)).toDF("k", "p", "v"))
    LakeTable.delete(spark, src, col("k") % 10 === 1, "p")
    LakeTable.update(spark, src, col("k") === 2, Map("v" -> lit(9999L)), "p")
    val applied = MatView.refresh(spark, mv)
    assert(applied === LakeTable.snapshot(spark, src).version)
    assertInSync(src, mv, Seq("p"), Seq("sum(v)"))

    // group death: delete every p3 row → the group leaves the view
    LakeTable.delete(spark, src, col("p") === "p3", "p")
    MatView.refresh(spark, mv)
    assert(LakeTable.read(spark, mv).where(col("p") === "p3").count() === 0)
    assertInSync(src, mv, Seq("p"), Seq("sum(v)"))

    // group birth through refresh (a key never seen at create time)
    LakeTable.append(spark, src, Seq((200L, "p9", 1L)).toDF("k", "p", "v"))
    MatView.refresh(spark, mv)
    assertInSync(src, mv, Seq("p"), Seq("sum(v)"))

    // caught-up refresh: version watermark unchanged, no new commit
    val mvV = LakeTable.snapshot(spark, mv).version
    MatView.refresh(spark, mv)
    assert(LakeTable.snapshot(spark, mv).version === mvV)
  }

  test("delta path keeps SQL sum NULL semantics through the _nn counter") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    // group g1 starts all-NULL (sum NULL), g2 has values
    LakeTable.init(spark,
      src, Seq(("g1", Option.empty[Long]), ("g1", Option.empty[Long]),
        ("g2", Some(5L))).toDF("g", "x"),
      partitionCol = "g")
    MatView.create(spark, mv, src, Seq("g"), MatView.parseAggs("cnt,sum:x"))
    val r0 = LakeTable.read(spark, mv).where(col("g") === "g1").head
    assert(r0.getAs[Any]("sum_x") === null)

    // a non-null value arrives in g1 → sum becomes defined
    LakeTable.append(spark, src, Seq(("g1", Some(3L))).toDF("g", "x"))
    MatView.refresh(spark, mv)
    assert(LakeTable.read(spark, mv).where(col("g") === "g1")
      .head.getAs[Long]("sum_x") === 3L)

    // ...and leaves again → back to NULL (cnt stays 2: the null rows)
    LakeTable.delete(spark, src, col("x").isNotNull && col("g") === "g1", "g")
    MatView.refresh(spark, mv)
    val r2 = LakeTable.read(spark, mv).where(col("g") === "g1").head
    assert(r2.getAs[Any]("sum_x") === null)
    assert(r2.getAs[Long]("cnt") === 2L)
  }

  test("dirty-group path: min/max re-aggregate touched groups only") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark,
      src, (0L until 30L).map(i => (i, s"p${i % 3}", i * 10L)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"))
    MatView.create(spark, mv, src, Seq("p"), MatView.parseAggs("cnt,min:v,max:v,sum:v"))
    assertInSync(src, mv, Seq("p"), Seq("min(v)", "max(v)", "sum(v)"))

    // deleting the current max of p0 must LOWER max_v — the shape pure
    // delta cannot maintain; the dirty-group rescan gets it right
    val oldMax = LakeTable.read(spark, mv).where(col("p") === "p0")
      .head.getAs[Long]("max_v")
    LakeTable.delete(spark, src, col("v") === oldMax && col("p") === "p0", "p")
    MatView.refresh(spark, mv)
    val newMax = LakeTable.read(spark, mv).where(col("p") === "p0")
      .head.getAs[Long]("max_v")
    assert(newMax < oldMax)
    assertInSync(src, mv, Seq("p"), Seq("min(v)", "max(v)", "sum(v)"))

    // untouched groups must not be re-aggregated: kill p1 entirely,
    // p0/p2 rows stay identical through the refresh
    val before = LakeTable.read(spark, mv).where(col("p") =!= "p1")
      .orderBy("p").collect().toSeq
    LakeTable.delete(spark, src, col("p") === "p1", "p")
    MatView.refresh(spark, mv)
    assert(LakeTable.read(spark, mv).where(col("p") === "p1").count() === 0)
    assert(LakeTable.read(spark, mv).where(col("p") =!= "p1")
      .orderBy("p").collect().toSeq === before)
  }

  test("dirty-path source read prunes files by the dirty key set") {
    val (src, _) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark,
      src, (0L until 10L).map(i => (i, "a", i)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"))
    LakeTable.append(spark,
      src, (100L until 110L).map(i => (i, "a", i)).toDF("k", "p", "v"))
    val head = LakeTable.snapshot(spark, src).version
    val all = LakeTable.readVersion(spark, src, head).inputFiles.length
    val pruned = LakeTable.readVersionForKeys(spark, src, head, Seq("k"),
      Seq(5L).toDF("k")).inputFiles.length
    assert(all >= 2 && pruned < all, s"expected pruning: $pruned of $all files")
  }

  test("exactly-once: the applied source version rides in the merge commit") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark, src, Seq((1L, "a", 10L)).toDF("k", "p", "v"),
      partitionCol = "p")
    MatView.create(spark, mv, src, Seq("p"), MatView.parseAggs("cnt,sum:v"))
    LakeTable.append(spark, src, Seq((2L, "a", 5L)).toDF("k", "p", "v"))
    MatView.refresh(spark, mv)
    // the watermark lives in the SAME manifest version as the new rows:
    // reading the view one version back shows the old content AND the
    // old watermark (no state where one moved without the other)
    val s = LakeTable.snapshot(spark, mv)
    val props = s.meta.get.props
    assert(props("mv.srcVersion").toLong === LakeTable.snapshot(spark, src).version)
    val (prevMeta, _) = LakeTable.readManifest(spark, mv, s.version - 1)
    assert(prevMeta.props("mv.srcVersion").toLong ===
      LakeTable.snapshot(spark, src).version - 1)
    assert(LakeTable.readVersion(spark, mv, s.version - 1)
      .agg(sum("sum_v")).head.getLong(0) === 10L)
    assert(LakeTable.read(spark, mv).agg(sum("sum_v")).head.getLong(0) === 15L)
  }

  test("procedure faces + empty-window refresh advances the watermark") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark,
      src, (0L until 12L).map(i => (i, s"p${i % 2}", i)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"))
    spark.sql(s"CALL graft.system.create_matview('$mv', '$src', 'p', 'cnt,sum:v')")
    assert(LakeTable.read(spark, mv).count() === 2)
    // a data-free commit (OPTIMIZE) opens a window with no net change:
    // refresh still advances the watermark, with content unchanged
    LakeTable.optimize(spark, src)
    val r = spark.sql(s"CALL graft.system.refresh_matview('$mv')").head.getLong(0)
    assert(r === LakeTable.snapshot(spark, src).version)
    assert(LakeTable.snapshot(spark, mv).meta.get.props("mv.srcVersion").toLong === r)
    assertInSync(src, mv, Seq("p"), Seq("sum(v)"))
    // refusal: refreshing a non-view lake table
    val e = intercept[Exception](MatView.refresh(spark, src))
    assert(e.getMessage.contains("not a materialized view"))
  }

  test("avg stays on the delta path; exact count-distinct re-aggregates dirty groups") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    def rows(r: Range) = r.map(i => (i.toLong, s"p${i % 3}", i * 10L, s"u${i % 5}"))
      .toDF("k", "p", "v", "u")
    LakeTable.init(spark, src, rows(0 until 30),
      partitionCol = "p", statsCols = Seq("k"))

    // cnt/sum/avg only → the delta path (no source rescan on refresh)
    MatView.create(spark, mv, src, Seq("p"), MatView.parseAggs("cnt,sum:v,avg:v"))
    assertInSync(src, mv, Seq("p"), Seq("sum(v)", "avg(v)"))
    LakeTable.append(spark, src,
      Seq((100L, "p0", 1000L, "u9"), (101L, "p1", 5L, "u9")).toDF("k", "p", "v", "u"))
    LakeTable.delete(spark, src, col("k") % 10 === 3, "p")
    LakeTable.update(spark, src, col("k") === 2, Map("v" -> lit(7777L)), "p")
    MatView.refresh(spark, mv)
    assertInSync(src, mv, Seq("p"), Seq("sum(v)", "avg(v)"))

    // avg of a group whose every value left goes NULL with the sum
    val (src2, mv2) = freshRoots()
    LakeTable.init(spark, src2,
      Seq(("g1", Option.empty[Long]), ("g1", Some(4L))).toDF("g", "x"),
      partitionCol = "g")
    MatView.create(spark, mv2, src2, Seq("g"), MatView.parseAggs("cnt,avg:x"))
    LakeTable.delete(spark, src2, col("x").isNotNull, "g")
    MatView.refresh(spark, mv2)
    val r = LakeTable.read(spark, mv2).head
    assert(r.getAs[Any]("avg_x") === null && r.getAs[Long]("cnt") === 1L)

    // cntd → dirty-group path; a delete wave LOWERS the distinct count
    val (src3, mv3) = freshRoots()
    LakeTable.init(spark, src3, rows(0 until 30),
      partitionCol = "p", statsCols = Seq("k"))
    MatView.create(spark, mv3, src3, Seq("p"), MatView.parseAggs("cnt,cntd:u,max:v"))
    def cntdOf() = LakeTable.read(spark, mv3)
      .select("p", "cntd_u").orderBy("p").collect().map(_.getLong(1)).toSeq
    val before = cntdOf()
    LakeTable.delete(spark, src3, col("u") === "u4", "p")
    MatView.refresh(spark, mv3)
    val after = cntdOf()
    assert(after !== before, "the delete wave must lower some distinct count")
    val fresh = LakeTable.read(spark, src3).groupBy("p")
      .agg(countDistinct(col("u")).as("cd")).orderBy("p").collect().map(_.getLong(1)).toSeq
    assert(after === fresh)
  }

  test("NULL group keys: refresh updates the NULL group instead of duplicating it") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark, src,
      Seq((1L, "b0", Option("a"), 10L), (2L, "b0", Option.empty[String], 5L),
        (3L, "b1", Option.empty[String], 2L)).toDF("k", "b", "g", "v"),
      partitionCol = "b", statsCols = Seq("k"))
    MatView.create(spark, mv, src, Seq("g"), MatView.parseAggs("cnt,sum:v"))
    def nullRows() = LakeTable.read(spark, mv).where(col("g").isNull).collect().toSeq
    assert(nullRows().size === 1 && nullRows().head.getAs[Long]("cnt") === 2L)

    // delta path: a new row in the NULL group must UPDATE its view row
    // (a strict-equality merge would re-INSERT a duplicate every refresh)
    LakeTable.append(spark, src,
      Seq((4L, "b1", Option.empty[String], 7L)).toDF("k", "b", "g", "v"))
    MatView.refresh(spark, mv)
    assert(nullRows().size === 1, s"NULL group duplicated: ${nullRows()}")
    assert(nullRows().head.getAs[Long]("cnt") === 3L)
    assert(nullRows().head.getAs[Long]("sum_v") === 14L)

    // group death for the NULL key: the delete fires for it too
    LakeTable.delete(spark, src, col("g").isNull, "b")
    MatView.refresh(spark, mv)
    assert(nullRows().isEmpty, s"dead NULL group must leave the view: ${nullRows()}")

    // dirty path (min present): NULL-group rescan falls back to the full
    // pinned-version read and still lands on the right aggregates
    val (src2, mv2) = freshRoots()
    LakeTable.init(spark, src2,
      Seq((1L, "b0", Option("a"), 10L), (2L, "b0", Option.empty[String], 5L))
        .toDF("k", "b", "g", "v"),
      partitionCol = "b", statsCols = Seq("k"))
    MatView.create(spark, mv2, src2, Seq("g"), MatView.parseAggs("cnt,min:v"))
    LakeTable.append(spark, src2,
      Seq((3L, "b1", Option.empty[String], 1L)).toDF("k", "b", "g", "v"))
    MatView.refresh(spark, mv2)
    val nr = LakeTable.read(spark, mv2).where(col("g").isNull).collect().toSeq
    assert(nr.size === 1 && nr.head.getAs[Long]("cnt") === 2L
      && nr.head.getAs[Long]("min_v") === 1L, s"got $nr")
  }

  test("dirty-path rescan on a STATS group key reads NULL groups unpruned") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    // g is a stats column: the key probe would prune the b0 file, whose g
    // range [a, a] misses the dirty key "z" — yet it holds a NULL-group row
    LakeTable.init(spark, src,
      Seq((1L, "b0", Option("a"), 10L), (2L, "b0", Option.empty[String], 5L))
        .toDF("k", "b", "g", "v"),
      partitionCol = "b", statsCols = Seq("k", "g"))
    MatView.create(spark, mv, src, Seq("g"), MatView.parseAggs("cnt,min:v"))
    LakeTable.append(spark, src,
      Seq((3L, "b1", Option.empty[String], 7L), (4L, "b1", Option("z"), 1L))
        .toDF("k", "b", "g", "v"))
    val head = LakeTable.snapshot(spark, src).version
    val all = LakeTable.readVersion(spark, src, head).inputFiles.length
    assert(LakeTable.readVersionForKeys(spark, src, head, Seq("g"),
      Seq("z").toDF("g")).inputFiles.length < all, "the non-NULL key alone must prune")
    assert(LakeTable.readVersionForKeys(spark, src, head, Seq("g"),
      Seq(Option("z"), Option.empty[String]).toDF("g")).inputFiles.length === all,
      "a NULL key must read the unpruned version")

    MatView.refresh(spark, mv)
    val nr = LakeTable.read(spark, mv).where(col("g").isNull).collect().toSeq
    assert(nr.size === 1 && nr.head.getAs[Long]("cnt") === 2L
      && nr.head.getAs[Long]("min_v") === 5L, s"got $nr")
    assertInSync(src, mv, Seq("g"), Seq("min(v)"))
  }

  test("refresh over a MOR source: a tombstone+append merge commit folds exactly") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark, src,
      (0L until 20L).map(i => (i, s"p${i % 2}", i * 10L)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"), deleteMode = "mor")
    MatView.create(spark, mv, src, Seq("p"), MatView.parseAggs("cnt,sum:v"))
    // ONE MOR clause-merge commit carrying a tombstone delete, a
    // tombstone+postimage update and an insert — the change window the
    // signed row diff must decompose via DV diffs + added files
    val batch = Seq((3L, 0L), (5L, 77L), (100L, 777L)).toDF("k", "nv")
      .withColumn("__s_nv", col("nv")).withColumn("__s_k", col("k"))
    LakeTable.mergeClauses(spark, src, batch, Seq("k"),
      matched = Seq(
        LakeTable.MergeBranch(Some(col("k") === 3), None),
        LakeTable.MergeBranch(None, Some(Map("v" -> col("__s_nv"))))),
      notMatched = Seq(LakeTable.MergeBranch(None, Some(
        Map("k" -> col("__s_k"), "p" -> lit("p0"), "v" -> col("__s_nv"))))),
      partitionCol = "p")
    assert(LakeTable.snapshot(spark, src).entries.exists(_.dv.isDefined),
      "the merge must have taken the MOR arm")
    MatView.refresh(spark, mv)
    assertInSync(src, mv, Seq("p"), Seq("sum(v)"))
  }

  test("join views: delta-join maintenance across fact and dim waves") {
    val (fact, mv) = freshRoots()
    val dim = s"$wh/dimx$n"
    import spark.implicits._
    LakeTable.init(spark, fact,
      (0L until 40L).map(i => (i, s"b${i % 4}", i % 6, i * 10L)).toDF("k", "b", "fk", "v"),
      partitionCol = "b", statsCols = Seq("k", "fk"))
    LakeTable.init(spark, dim,
      (0L until 6L).map(j => (j, s"g${j % 2}")).toDF("dk", "seg"),
      partitionCol = "seg", statsCols = Seq("dk"))
    MatView.createJoin(spark, mv, fact, dim, "fk", "dk",
      Seq("seg"), MatView.parseAggs("cnt,sum:v,avg:v"))
    def inSync(): Unit = {
      val fresh = LakeTable.read(spark, fact).as("f")
        .join(LakeTable.read(spark, dim).as("d"), col("f.fk") === col("d.dk"))
        .groupBy("seg")
        .agg(count(lit(1)).as("cnt"), sum("v").as("s"), avg("v").as("a"))
        .orderBy("seg").collect().toSeq
      val stored = LakeTable.read(spark, mv).select("seg", "cnt", "sum_v", "avg_v")
        .orderBy("seg").collect().toSeq
      assert(stored.map(_.toSeq) === fresh.map(_.toSeq))
    }
    inSync()

    // fact-only wave: ΔF ⋈ D1, no dim work
    LakeTable.append(spark, fact, Seq((100L, "b0", 1L, 999L)).toDF("k", "b", "fk", "v"))
    LakeTable.delete(spark, fact, col("k") % 10 === 3, "b")
    MatView.refresh(spark, mv)
    inSync()

    // dim-only wave: a partition-moving UPDATE changes group MEMBERSHIP —
    // every joining fact row must move between groups (F0 ⋈ ΔD)
    LakeTable.update(spark, dim, col("dk") === 1, Map("seg" -> lit("g9")), "seg")
    MatView.refresh(spark, mv)
    inSync()

    // both sides change in ONE window (the cross-term exactness case)
    LakeTable.append(spark, fact, Seq((101L, "b1", 5L, 7L)).toDF("k", "b", "fk", "v"))
    LakeTable.delete(spark, dim, col("dk") === 0, "seg")
    MatView.refresh(spark, mv)
    inSync()

    // caught-up refresh: no new commit
    val v0 = LakeTable.snapshot(spark, mv).version
    MatView.refresh(spark, mv)
    assert(LakeTable.snapshot(spark, mv).version === v0)

    // refusal: colliding column names across the two sides
    val e1 = intercept[Exception](MatView.createJoin(spark, s"$wh/mvj_bad$n",
      fact, fact, "fk", "fk", Seq("b"), MatView.parseAggs("cnt")))
    assert(e1.getMessage.contains("disjoint"), e1.getMessage)
  }

  test("filtered + expression-key views refresh on both paths") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark, src,
      (0L until 40L).map(i => (i, s"p${i % 2}", i * 10L)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"))
    // WHERE v >= 100, grouped by a DERIVED key (k div 10) — delta path
    MatView.create(spark, mv, src, Seq("dec"), MatView.parseAggs("cnt,sum:v"),
      where = Some("v >= 100"), keyExprs = Seq("dec" -> "k div 10"))
    def inSync(m: String, aggSel: Seq[String]): Unit = {
      val fresh = LakeTable.read(spark, src).where(col("v") >= 100)
        .withColumn("dec", expr("k div 10"))
        .groupBy("dec").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
        .select(("dec" +: aggSel).map(col): _*).orderBy("dec").collect().toSeq
      val stored = LakeTable.read(spark, m).select(("dec" +: aggSel).map(col): _*)
        .orderBy("dec").collect().toSeq
      assert(stored.map(_.toSeq) === fresh.map(_.toSeq))
    }
    inSync(mv, Seq("cnt", "sum_v"))

    // an UPDATE that moves rows ACROSS the filter boundary in both
    // directions: in-filter rows drop below 100, out-of-filter rise above
    LakeTable.update(spark, src, col("k") === 15, Map("v" -> lit(5L)), "p")
    LakeTable.update(spark, src, col("k") === 3, Map("v" -> lit(500L)), "p")
    LakeTable.delete(spark, src, col("k") >= 30 && col("k") < 35, "p")
    MatView.refresh(spark, mv)
    inSync(mv, Seq("cnt", "sum_v"))
    // group death through the filter: every in-filter row of dec=1 gone
    LakeTable.update(spark, src, col("k") >= 10 && col("k") < 20,
      Map("v" -> lit(1L)), "p")
    MatView.refresh(spark, mv)
    assert(LakeTable.read(spark, mv).where(col("dec") === 1).count() === 0)
    inSync(mv, Seq("cnt", "sum_v"))

    // the DIRTY path under a filter + derived key (min present):
    val mv2 = s"$wh/mvfd$n"
    MatView.create(spark, mv2, src, Seq("dec"), MatView.parseAggs("cnt,min:v"),
      where = Some("v >= 100"), keyExprs = Seq("dec" -> "k div 10"))
    LakeTable.delete(spark, src, col("k") === 20, "p")
    LakeTable.append(spark, src, Seq((25L, "p1", 105L)).toDF("k", "p", "v"))
    MatView.refresh(spark, mv2)
    val fresh2 = LakeTable.read(spark, src).where(col("v") >= 100)
      .withColumn("dec", expr("k div 10"))
      .groupBy("dec").agg(count(lit(1)).as("cnt"), min("v").as("min_v"))
      .orderBy("dec").collect().toSeq
    val stored2 = LakeTable.read(spark, mv2).select("dec", "cnt", "min_v")
      .orderBy("dec").collect().toSeq
    assert(stored2.map(_.toSeq) === fresh2.map(_.toSeq))

    // SQL face round trip
    val mv3 = s"$wh/mvfp$n"
    spark.sql(s"CALL graft.system.create_matview(view => '$mv3', table => '$src', " +
      "keys => 'dec', aggs => 'cnt,sum:v', " +
      "where => 'v >= 100', key_exprs => 'dec:=k div 10')")
    LakeTable.append(spark, src, Seq((90L, "p0", 950L)).toDF("k", "p", "v"))
    spark.sql(s"CALL graft.system.refresh_matview('$mv3')")
    inSync(mv3, Seq("cnt", "sum_v"))
  }

  test("min/max over a JOIN view: dirty-group join rescan survives a delete wave") {
    val (fact, mv) = freshRoots()
    val dim = s"$wh/dimm$n"
    import spark.implicits._
    LakeTable.init(spark, fact,
      (0L until 40L).map(i => (i, s"b${i % 4}", i % 6, i * 10L)).toDF("k", "b", "fk", "v"),
      partitionCol = "b", statsCols = Seq("k", "fk"))
    LakeTable.init(spark, dim,
      (0L until 6L).map(j => (j, s"g${j % 2}")).toDF("dk", "seg"),
      partitionCol = "seg", statsCols = Seq("dk"))
    MatView.createJoin(spark, mv, fact, dim, "fk", "dk",
      Seq("seg"), MatView.parseAggs("cnt,min:v,max:v"))
    def inSync(): Unit = {
      val fresh = LakeTable.read(spark, fact).as("f")
        .join(LakeTable.read(spark, dim).as("d"), col("f.fk") === col("d.dk"))
        .groupBy("seg")
        .agg(count(lit(1)).as("cnt"), min("v").as("mn"), max("v").as("mx"))
        .orderBy("seg").collect().toSeq
      val stored = LakeTable.read(spark, mv).select("seg", "cnt", "min_v", "max_v")
        .orderBy("seg").collect().toSeq
      assert(stored.map(_.toSeq) === fresh.map(_.toSeq))
    }
    inSync()

    // a delete wave that REMOVES each group's current max (the case no
    // delta algebra can fold — only a rescan of the touched groups)
    LakeTable.delete(spark, fact, col("v") >= 300L, "b")
    MatView.refresh(spark, mv)
    inSync()

    // dim-side wave: group membership moves, min/max follow
    LakeTable.update(spark, dim, col("dk") === 1, Map("seg" -> lit("g9")), "seg")
    MatView.refresh(spark, mv)
    inSync()

    // both sides in one window + a group dies (dim key deleted)
    LakeTable.append(spark, fact, Seq((200L, "b2", 5L, 5000L)).toDF("k", "b", "fk", "v"))
    LakeTable.delete(spark, dim, col("dk") === 0, "seg")
    MatView.refresh(spark, mv)
    inSync()

    // caught-up refresh commits nothing
    val v0 = LakeTable.snapshot(spark, mv).version
    MatView.refresh(spark, mv)
    assert(LakeTable.snapshot(spark, mv).version === v0)
  }

  test("filtered JOIN view: the fact-side WHERE holds on every refresh path") {
    val (fact, mv) = freshRoots()
    val dim = s"$wh/dimw$n"
    import spark.implicits._
    LakeTable.init(spark, fact,
      (0L until 60L).map(i => (i, i % 6, i * 10L)).toDF("k", "fk", "v"),
      partitionCol = "fk", statsCols = Seq("k", "fk"))
    LakeTable.init(spark, dim,
      (0L until 6L).map(j => (j, s"g${j % 2}")).toDF("dk", "seg"),
      partitionCol = "seg", statsCols = Seq("dk"))
    // delta family first (cnt/sum), fact-side filter v >= 100
    MatView.createJoin(spark, mv, fact, dim, "fk", "dk",
      Seq("seg"), MatView.parseAggs("cnt,sum:v"), where = Some("v >= 100"))
    def inSync(m: String, sel: Seq[String], fresh: () => Seq[Seq[Any]]): Unit = {
      val stored = LakeTable.read(spark, m).select(sel.map(col): _*)
        .orderBy("seg").collect().toSeq.map(_.toSeq)
      assert(stored === fresh())
    }
    def freshCntSum(): Seq[Seq[Any]] = LakeTable.read(spark, fact)
      .where(col("v") >= 100).as("f")
      .join(LakeTable.read(spark, dim).as("d"), col("f.fk") === col("d.dk"))
      .groupBy("seg").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .orderBy("seg").collect().toSeq.map(_.toSeq)
    inSync(mv, Seq("seg", "cnt", "sum_v"), freshCntSum)
    // a wave crossing the filter boundary both ways + a dim move
    LakeTable.update(spark, fact, col("k") === 15, Map("v" -> lit(5L)), "fk")
    LakeTable.update(spark, fact, col("k") === 3, Map("v" -> lit(500L)), "fk")
    LakeTable.update(spark, dim, col("dk") === 1, Map("seg" -> lit("g9")), "seg")
    MatView.refresh(spark, mv)
    inSync(mv, Seq("seg", "cnt", "sum_v"), freshCntSum)

    // dirty path (max) under the same filter
    val mv2 = s"$wh/mvw2$n"
    MatView.createJoin(spark, mv2, fact, dim, "fk", "dk",
      Seq("seg"), MatView.parseAggs("cnt,max:v"), where = Some("v >= 100"))
    LakeTable.delete(spark, fact, col("v") >= 400L, "fk")
    MatView.refresh(spark, mv2)
    def freshCntMax(): Seq[Seq[Any]] = LakeTable.read(spark, fact)
      .where(col("v") >= 100).as("f")
      .join(LakeTable.read(spark, dim).as("d"), col("f.fk") === col("d.dk"))
      .groupBy("seg").agg(count(lit(1)).as("cnt"), max("v").as("max_v"))
      .orderBy("seg").collect().toSeq.map(_.toSeq)
    inSync(mv2, Seq("seg", "cnt", "max_v"), freshCntMax)
  }

  test("DIM-filtered JOIN view: the dim-side WHERE holds on every refresh path") {
    val (fact, mv) = freshRoots()
    val dim = s"$wh/dimdw$n"
    import spark.implicits._
    LakeTable.init(spark, fact,
      (0L until 60L).map(i => (i, i % 6, i * 10L)).toDF("k", "fk", "v"),
      partitionCol = "fk", statsCols = Seq("k", "fk"))
    // dim with an active flag: the view covers ACTIVE dim rows only
    LakeTable.init(spark, dim,
      (0L until 6L).map(j => (j, s"g${j % 2}", j % 3 != 0)).toDF("dk", "seg", "act"),
      partitionCol = "seg", statsCols = Seq("dk"))
    MatView.createJoin(spark, mv, fact, dim, "fk", "dk",
      Seq("seg"), MatView.parseAggs("cnt,sum:v"), dimWhere = Some("act = true"))
    def freshCntSum(): Seq[Seq[Any]] = LakeTable.read(spark, fact).as("f")
      .join(LakeTable.read(spark, dim).where(col("act")).as("d"),
        col("f.fk") === col("d.dk"))
      .groupBy("seg").agg(count(lit(1)).as("cnt"), sum("v").as("sum_v"))
      .orderBy("seg").collect().toSeq.map(_.toSeq)
    def inSync(m: String, sel: Seq[String], fresh: () => Seq[Seq[Any]]): Unit =
      assert(LakeTable.read(spark, m).select(sel.map(col): _*)
        .orderBy("seg").collect().toSeq.map(_.toSeq) === fresh())
    inSync(mv, Seq("seg", "cnt", "sum_v"), freshCntSum)

    // dim rows cross the filter boundary BOTH ways (a deactivation must
    // retire every joining fact row, an activation must admit them), a
    // dim segment moves, and the fact takes a delete — one refresh each
    LakeTable.update(spark, dim, col("dk") === 1, Map("act" -> lit(false)), "seg")
    LakeTable.update(spark, dim, col("dk") === 3, Map("act" -> lit(true)), "seg")
    LakeTable.update(spark, dim, col("dk") === 4, Map("seg" -> lit("g9")), "seg")
    LakeTable.delete(spark, fact, col("k") % 10 === 2, "fk")
    MatView.refresh(spark, mv)
    inSync(mv, Seq("seg", "cnt", "sum_v"), freshCntSum)

    // dirty path (max) under the same dim filter, composed with a
    // fact-side WHERE — both filters hold through the join rescan
    val mv2 = s"$wh/mvdw2$n"
    MatView.createJoin(spark, mv2, fact, dim, "fk", "dk",
      Seq("seg"), MatView.parseAggs("cnt,max:v"),
      where = Some("v >= 100"), dimWhere = Some("act = true"))
    LakeTable.delete(spark, fact, col("v") >= 400L, "fk")
    LakeTable.update(spark, dim, col("dk") === 3, Map("act" -> lit(false)), "seg")
    MatView.refresh(spark, mv2)
    def freshCntMax(): Seq[Seq[Any]] = LakeTable.read(spark, fact)
      .where(col("v") >= 100).as("f")
      .join(LakeTable.read(spark, dim).where(col("act")).as("d"),
        col("f.fk") === col("d.dk"))
      .groupBy("seg").agg(count(lit(1)).as("cnt"), max("v").as("max_v"))
      .orderBy("seg").collect().toSeq.map(_.toSeq)
    inSync(mv2, Seq("seg", "cnt", "max_v"), freshCntMax)
  }

  test("expression group keys on JOIN views refresh on both paths") {
    val (fact, mv) = freshRoots()
    val dim = s"$wh/dimek$n"
    import spark.implicits._
    LakeTable.init(spark, fact,
      (0L until 60L).map(i => (i, i % 6, i * 10L)).toDF("k", "fk", "v"),
      partitionCol = "fk", statsCols = Seq("k", "fk"))
    LakeTable.init(spark, dim,
      (0L until 6L).map(j => (j, j % 3)).toDF("dk", "grp"),
      partitionCol = "grp", statsCols = Seq("dk"))
    // one key derived from the DIM side, one from the FACT side
    val ke = Seq("gband" -> "grp % 2", "kb" -> "k % 3")
    MatView.createJoin(spark, mv, fact, dim, "fk", "dk",
      Seq("gband", "kb"), MatView.parseAggs("cnt,sum:v"), keyExprs = ke)
    def freshAgg(aggCols: Seq[(String, org.apache.spark.sql.Column)]): Seq[Seq[Any]] =
      LakeTable.read(spark, fact).as("f")
        .join(LakeTable.read(spark, dim).as("d"), col("f.fk") === col("d.dk"))
        .withColumn("gband", col("grp") % 2).withColumn("kb", col("k") % 3)
        .groupBy("gband", "kb")
        .agg(count(lit(1)).as("cnt"), aggCols.map { case (n, c) => c.as(n) }: _*)
        .orderBy("gband", "kb").collect().toSeq.map(_.toSeq)
    def stored(m: String, cols: Seq[String]): Seq[Seq[Any]] =
      LakeTable.read(spark, m).select(cols.map(col): _*)
        .orderBy("gband", "kb").collect().toSeq.map(_.toSeq)
    assert(stored(mv, Seq("gband", "kb", "cnt", "sum_v")) ===
      freshAgg(Seq("sum_v" -> sum("v"))))
    // waves on both sides: the dim update MOVES derived-key membership
    LakeTable.delete(spark, fact, col("k") % 10 === 2, "fk")
    LakeTable.update(spark, dim, col("dk") === 1, Map("grp" -> lit(5L)), "grp")
    MatView.refresh(spark, mv)
    assert(stored(mv, Seq("gband", "kb", "cnt", "sum_v")) ===
      freshAgg(Seq("sum_v" -> sum("v"))))

    // dirty family (max) over the same derived keys
    val mv2 = s"$wh/mvek2$n"
    MatView.createJoin(spark, mv2, fact, dim, "fk", "dk",
      Seq("gband", "kb"), MatView.parseAggs("cnt,max:v"), keyExprs = ke)
    LakeTable.delete(spark, fact, col("v") >= 400L, "fk")
    MatView.refresh(spark, mv2)
    assert(stored(mv2, Seq("gband", "kb", "cnt", "max_v")) ===
      freshAgg(Seq("max_v" -> max("v"))))
  }

  test("derived keys must not shadow source columns (both create faces refuse)") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark, src,
      (0L until 10L).map(i => (i, s"p${i % 2}", i * 10L)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"))
    // shadowing would silently redirect max(v) and the dirty-rescan
    // pruning onto the DERIVED value
    val e = intercept[IllegalArgumentException](MatView.create(spark, mv, src,
      Seq("v"), MatView.parseAggs("cnt,max:v"), keyExprs = Seq("v" -> "v % 10")))
    assert(e.getMessage.contains("shadows"), e.getMessage)
    val dim = s"$wh/dimsh$n"
    LakeTable.init(spark, dim,
      (0L until 2L).map(j => (j, s"g$j")).toDF("dk", "seg"),
      partitionCol = "seg", statsCols = Seq("dk"))
    val e2 = intercept[IllegalArgumentException](MatView.createJoin(spark, mv, src, dim,
      "k", "dk", Seq("seg", "k"), MatView.parseAggs("cnt"),
      keyExprs = Seq("k" -> "k % 2")))
    assert(e2.getMessage.contains("shadows"), e2.getMessage)
  }

  test("join dirty rescan prunes the fact read through the dirty dim keys") {
    val (fact, mv) = freshRoots()
    val dim = s"$wh/dimp$n"
    import spark.implicits._
    // fact bucketed on fk with stats: each fk value lives in few files
    LakeTable.init(spark, fact,
      (0L until 400L).map(i => (i, i % 8, i * 10L)).toDF("k", "fk", "v"),
      partitionCol = "fk", statsCols = Seq("k", "fk"))
    LakeTable.init(spark, dim,
      (0L until 8L).map(j => (j, s"g$j")).toDF("dk", "seg"),
      partitionCol = "seg", statsCols = Seq("dk"))
    MatView.createJoin(spark, mv, fact, dim, "fk", "dk",
      Seq("seg"), MatView.parseAggs("cnt,max:v"))
    // touch ONE dim row: the rescan must not read the whole fact — the
    // dirty seg names one dk, which prunes the fact to its partition
    LakeTable.update(spark, dim, col("dk") === 3,
      Map("seg" -> lit("moved")), "seg")
    val head = LakeTable.snapshot(spark, fact).version
    val allFiles = LakeTable.readVersion(spark, fact, head).inputFiles.length
    val p0 = LakeTable.manifestParses.get() // (not asserted; just warmth)
    val _ = p0
    MatView.refresh(spark, mv)
    // correctness: the moved group carries fk=3's rows under both names
    val got = LakeTable.read(spark, mv)
      .select($"seg".as[String], $"cnt".as[Long], $"max_v".as[Long]).collect()
      .map(r => r._1 -> ((r._2, r._3))).toMap
    assert(got("moved") === ((50L, 3950L)))
    assert(!got.contains("g3"))
    // the prune itself, pinned through the same entry-pruned read the
    // refresh used: one dirty dim key touches a strict file subset
    val prunedFiles = LakeTable.readVersionForKeys(spark, fact, head,
      Seq("fk"), Seq(3L).toDF("fk")).inputFiles.length
    assert(allFiles >= 8 && prunedFiles < allFiles,
      s"expected fact pruning: $prunedFiles of $allFiles files")
  }

  test("racing refreshes apply a delta window exactly once") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    LakeTable.init(spark, src,
      (0L until 20L).map(i => (i, s"p${i % 2}", i)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"))
    MatView.create(spark, mv, src, Seq("p"), MatView.parseAggs("cnt,sum:v"))
    LakeTable.append(spark, src,
      (100L until 110L).map(i => (i, "p0", i)).toDF("k", "p", "v"))
    // two refreshes race the same window: the loser must observe the
    // winner's advanced watermark on its commit snapshot and abort the
    // re-apply (double-applying the delta would double the new sums)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val gate = new java.util.concurrent.CyclicBarrier(2)
    val ths = (0 until 2).map { _ =>
      val t = new Thread {
        override def run(): Unit =
          try { gate.await(); MatView.refresh(spark, mv) }
          catch { case x: Throwable => errs.add(x) }
      }
      t.start(); t
    }
    ths.foreach(_.join())
    assert(errs.isEmpty, s"refresh must absorb the race internally: $errs")
    assertInSync(src, mv, Seq("p"), Seq("sum(v)"))
    assert(LakeTable.snapshot(spark, mv).meta.get.props("mv.srcVersion").toLong ===
      LakeTable.snapshot(spark, src).version)
  }

  test("refresh over a TYPE-WIDENED source: deltas arrive wide, the view stays in sync") {
    val (src, mv) = freshRoots()
    import spark.implicits._
    import org.apache.spark.sql.types.LongType
    LakeTable.init(spark,
      src, (0 until 20).map(i => (i, s"p${i % 2}", i * 10)).toDF("k", "p", "v"),
      partitionCol = "p", statsCols = Seq("k"))
    MatView.create(spark, mv, src, Seq("p"), MatView.parseAggs("cnt,sum:v,max:v"))
    assertInSync(src, mv, Seq("p"), Seq("sum(v)", "max(v)"))

    // the source widens mid-life; post-widening rows carry values only
    // the wide type holds — the refresh window spans the widening
    // commit and both physical generations
    LakeTable.alterTable(spark, src,
      widenColumns = Map("k" -> LongType, "v" -> LongType))
    LakeTable.append(spark, src,
      Seq((3000000000L, "p0", 5000000000L), (3000000001L, "p1", 1L)).toDF("k", "p", "v"))
    LakeTable.delete(spark, src, col("k") % 4 === 1, "p")
    MatView.refresh(spark, mv)
    assertInSync(src, mv, Seq("p"), Seq("sum(v)", "max(v)"))
    assert(LakeTable.read(spark, mv).agg(max("max_v")).head.getLong(0) === 5000000000L)
  }
}
