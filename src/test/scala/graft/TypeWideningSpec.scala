package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.{LakeStats, LakeTable}

/** ALTER COLUMN TYPE — metadata-only TYPE WIDENING (the Iceberg
  * promotion model). Pins the three correctness hazards the feature
  * has to defuse, not just the happy path:
  *
  *   1. old data files are untouched (byte-identical) and the parquet
  *      reader up-converts them exactly — including the float→double
  *      case where the widened value is NOT the decimal the float
  *      printed as;
  *   2. manifest STAT cells re-render under the new type in the same
  *      commit — an unrewritten float max compares BELOW a double
  *      query bound inside the float's rounding interval, which would
  *      wrongly prune a file that satisfies the predicate;
  *   3. BLOOM sidecars written under the old type are invalid (xxhash64
  *      of an int ≠ xxhash64 of the same number as a long) — the
  *      column's sidecar namespace is REKEYED so stale rows stop
  *      matching (conservative), instead of false-pruning.
  */
class TypeWideningSpec extends SparkSpec {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-widen").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  private def filesUnder(root: String): Map[String, (Long, Long)] = {
    val rootDir = new java.io.File(new java.net.URI(s"file:$root"))
    def walk(d: java.io.File): Seq[java.io.File] =
      if (!d.exists) Nil
      else d.listFiles.toSeq.filterNot(_.getName.startsWith("."))
        .flatMap(f => if (f.isDirectory) walk(f) else Seq(f))
    walk(new java.io.File(rootDir, "data"))
      .filterNot(_.getPath.contains("/index/"))
      .map(f => rootDir.toPath.relativize(f.toPath).toString ->
        ((f.length, f.lastModified))).toMap
  }

  test("widening is metadata-only and reads up-convert exactly (int->long, float->double)") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq((1, "a", 0.1f), (2, "a", 2.5f), (3, "b", 3.5f)).toDF("k", "p", "x")
    LakeTable.init(spark, root, df, "p", statsCol = Some("x"))
    val before = filesUnder(root)

    LakeTable.alterTable(spark, root,
      widenColumns = Map("k" -> LongType, "x" -> DoubleType))

    assert(filesUnder(root) === before, "widening must not touch a data file")
    val meta = LakeTable.snapshot(spark, root).meta.get
    assert(meta.schema("k").dataType === LongType)
    assert(meta.schema("x").dataType === DoubleType)

    val got = LakeTable.read(spark, root).orderBy("k")
      .select($"k".as[Long], $"x".as[Double]).collect()
    assert(got.map(_._1).toSeq === Seq(1L, 2L, 3L))
    // float→double widening is exact: the double equals the float's
    // binary value, not the shortest decimal the float printed as
    assert(got(0)._2 === 0.1f.toDouble)
    assert(got(0)._2 !== 0.1d)

    // time travel: the pre-widening snapshot reads under the OLD types
    val old = LakeTable.readVersion(spark, root, 1)
    assert(old.schema("k").dataType === IntegerType)
    assert(old.schema("x").dataType === FloatType)
  }

  test("stat cells re-render exactly: a double bound inside the float's rounding interval cannot misprune") {
    import spark.implicits._
    val root = freshRoot()
    // file max x = 0.1f, true binary value 0.100000001490116... — its
    // stat cell renders "0.1" pre-widening
    val df = Seq((1, "a", 0.1f), (2, "b", 0.05f)).toDF("k", "p", "x")
    LakeTable.init(spark, root, df, "p", statsCol = Some("x"))
    LakeTable.alterTable(spark, root, widenColumns = Map("x" -> DoubleType))

    val s = LakeTable.snapshot(spark, root)
    val cell = s.entries.flatMap(_.stats.headOption.flatMap(_._2)).max
    assert(cell === "0.10000000149011612",
      s"the float max must re-render as the exact double, got $cell")

    // the wrong-prune scenario: bound 0.1000000001 sits between the
    // decimal "0.1" and the float's true value — an unrewritten stat
    // would prune the file and silently lose the row
    val hit = LakeTable.readRange(spark, root, 0.1000000001d, 1.0d)
    assert(hit.select("k").as[Int].collect().toSeq === Seq(1))
  }

  test("bloom rekey: stale sidecars stop matching instead of false-pruning; new writes re-index") {
    import spark.implicits._
    val root = freshRoot()
    val df = (1 to 64).map(i => (i, "a", s"d$i")).toDF("k", "p", "s")
    LakeTable.init(spark, root, df, "p", bloomCols = Seq("k"))
    val metaOld = LakeTable.snapshot(spark, root).meta.get

    // the stale sidecar (hashes of INTs) would exclude at least one
    // key's LONG hash — exactly the false prune the rekey prevents
    val stale = LakeStats.loadBlooms(spark, root, Seq("k"))
    assert(stale.nonEmpty, "fixture must have written a sidecar")
    val wouldFalsePrune = (1 to 64).filter { i =>
      val h = LakeStats.bloomHash(LongType, i.toLong)
      stale.values.forall(!_.mightContainLong(h))
    }
    assert(wouldFalsePrune.nonEmpty,
      "fixture must include a key whose long hash the int-built filter excludes")

    LakeTable.alterTable(spark, root, widenColumns = Map("k" -> LongType))
    val meta = LakeTable.snapshot(spark, root).meta.get
    assert(meta.bloomKeys("k") === "k#w2")
    assert(meta.bloomNamesFor("k") === Seq("k#w2"))

    // probe the key the stale sidecar would have pruned: the row is found
    val k0 = wouldFalsePrune.head.toLong
    val got = LakeTable.readPoint(spark, root, "k", k0)
    assert(got.count() === 1, s"stale sidecar must not prune key $k0")

    // post-widening appends index under the NEW key and prune again
    LakeTable.append(spark, root, Seq((1000L, "a", "dX")).toDF("k", "p", "s"))
    val fresh = LakeStats.loadBlooms(spark, root, Seq("k#w2"))
    assert(fresh.nonEmpty, "post-widening write must index under the new key")
    val s2 = LakeTable.snapshot(spark, root)
    val pruned = s2.entries.filter(
      LakeTable.predicateFilePruner(spark, root, s2.meta.get, col("k") === 1000L))
    assert(pruned.map(_.rel).toSet ===
      fresh.keySet ++ s2.entries.filterNot(e => fresh.contains(e.rel)).map(_.rel),
      "gen-1 entries are kept (no sidecar under the new key); the gen-2 filter prunes normally")
    assert(LakeTable.readPoint(spark, root, "k", 1000L).count() === 1)

    // a LATER rename keeps the key (no alias — aliasing the old name
    // would re-match the stale rows) and probes keep working
    LakeTable.alterTable(spark, root, renameColumns = Map("k" -> "key"))
    val m3 = LakeTable.snapshot(spark, root).meta.get
    assert(m3.bloomKeys("key") === "k#w2")
    assert(m3.bloomAliases.isEmpty)
    assert(LakeTable.readPoint(spark, root, "key", k0).count() === 1)
    assert(LakeTable.readPoint(spark, root, "key", 1000L).count() === 1)

    (metaOld, ())
  }

  test("manifest round-trip: bloomKeys serialize, the manifest claims format 5") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.init(spark, root, Seq((1, "a", "x")).toDF("k", "p", "s"), "p",
      bloomCols = Seq("k"))
    LakeTable.alterTable(spark, root, widenColumns = Map("k" -> LongType))
    val meta = LakeTable.snapshot(spark, root).meta.get
    val text = LakeTable.renderManifest(meta, LakeTable.snapshot(spark, root).entries)
    assert(text.linesIterator.next() === "#format=5")
    val (meta2, _) = LakeTable.parseManifest(text)
    assert(meta2.bloomKeys === Map("k" -> "k#w2"))
    assert(meta2.schema("k").dataType === LongType)
  }

  test("refusals: narrowing, partition columns, generated inputs, unknown columns") {
    import spark.implicits._
    val root = freshRoot()
    val df = Seq((1, "a", 5))
      .toDF("k", "p", "n")
    LakeTable.init(spark, root, df, "p")
    def refuses(widen: Map[String, DataType], frag: String): Unit = {
      val e = intercept[IllegalArgumentException](
        LakeTable.alterTable(spark, root, widenColumns = widen))
      assert(e.getMessage.contains(frag), e.getMessage)
    }
    refuses(Map("k" -> IntegerType), "not a safe widening") // same type
    refuses(Map("k" -> ShortType), "not a safe widening") // narrowing
    refuses(Map("k" -> StringType), "not a safe widening")
    refuses(Map("p" -> LongType), "not a safe widening") // string→long
    refuses(Map("missing" -> LongType), "does not exist")

    // partition column: identity spec today, months() prior spec tomorrow —
    // both refuse (transform/bucket spaces are type-bound)
    val e = intercept[IllegalArgumentException](
      LakeTable.alterTable(spark, root, widenColumns = Map("k" -> LongType),
        renameColumns = Map("k" -> "kk")))
    assert(e.getMessage.contains("widened and renamed"), e.getMessage)
    val root2 = freshRoot()
    LakeTable.init(spark, root2, Seq((1, 2, "a")).toDF("k", "part", "s"), "part")
    val e2 = intercept[IllegalArgumentException](
      LakeTable.alterTable(spark, root2, widenColumns = Map("part" -> LongType)))
    assert(e2.getMessage.contains("partition column"), e2.getMessage)

    // a generated column's INPUT cannot widen (stored values were
    // computed under the old arithmetic type)
    val root3 = freshRoot()
    val genField = StructField("g", IntegerType, nullable = true,
      new MetadataBuilder().putString(
        org.apache.spark.sql.catalyst.util.GeneratedColumn.GENERATION_EXPRESSION_METADATA_KEY,
        "n + 1").build())
    val genSchema = StructType(Seq(
      StructField("n", IntegerType), StructField("p", StringType), genField))
    val rows = java.util.List.of(org.apache.spark.sql.Row(1, "a", 2))
    LakeTable.init(spark, root3, spark.createDataFrame(rows, genSchema), "p")
    val e3 = intercept[IllegalArgumentException](
      LakeTable.alterTable(spark, root3, widenColumns = Map("n" -> LongType)))
    assert(e3.getMessage.contains("GENERATED column g"), e3.getMessage)
    val e4 = intercept[IllegalArgumentException](
      LakeTable.alterTable(spark, root3, widenColumns = Map("g" -> LongType)))
    assert(e4.getMessage.contains("cannot widen GENERATED"), e4.getMessage)
  }

  test("change feeds cross the widening boundary: slices align to the widened schema") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.init(spark, root, Seq((1, "a", 10), (2, "b", 20)).toDF("k", "p", "v"), "p")
    LakeTable.alterTable(spark, root, widenColumns = Map("k" -> LongType, "v" -> LongType))
    LakeTable.append(spark, root, Seq((3000000000L, "a", 30L)).toDF("k", "p", "v"))
    LakeTable.delete(spark, root, col("k") === 1L, "p")

    // the netted diff across init→head: one delete (pre-widening file,
    // read under the OLD physical type, aligned to the widened schema)
    // and one insert only the wide type can hold
    val ch = LakeTable.tableChanges(spark, root, 1, 4, Seq("k"))
    assert(ch.schema("k").dataType === LongType)
    val got = ch.select($"_change_type".as[String], $"k".as[Long]).collect().toSet
    assert(got === Set(("delete", 1L), ("insert", 3000000000L)))

    // the per-commit walk: the widening commit itself contributes no
    // rows (no entry changed), every slice lands under the wide schema
    val log = LakeTable.changesSince(spark, root, 1, keyCols = Seq("k"))
    assert(log.schema("k").dataType === LongType)
    assert(log.where($"_commit_version" === 2).count() === 0,
      "the widening commit is a pure metadata change")
  }

  test("a mid-stream widening refuses crisply; a restarted stream reads the wide rows") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-widen-stream").toString
    val root = s"$base/tbl"
    import spark.implicits._
    LakeTable.init(spark, root, Seq((1, "a", 10)).toDF("k", "p", "v"), "p")
    def drain(out: String, ckpt: String): Unit = {
      val q = spark.readStream.format("graft-lake").load(root)
        .writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain(s"$base/out", s"$base/ckpt")
    assert(spark.read.parquet(s"$base/out").count() === 1)

    // a LIVE stream (schema captured at start) must refuse the widening
    // with a restart instruction, NOT die in the parquet reader with a
    // type error. (A RESTARTED stream re-captures the schema — only the
    // offsets checkpoint — so restart genuinely is the remedy.)
    val live = spark.readStream.format("graft-lake").load(root)
      .writeStream.format("parquet")
      .option("path", s"$base/live-out").option("checkpointLocation", s"$base/live-ckpt")
      .start()
    try {
      live.processAllAvailable()
      LakeTable.alterTable(spark, root, widenColumns = Map("k" -> LongType))
      LakeTable.append(spark, root, Seq((3000000000L, "a", 20)).toDF("k", "p", "v"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        live.processAllAvailable())
      val msg = e.getMessage + Option(e.getCause).fold("")(_.getMessage)
      assert(msg.contains("Restart the stream"), msg)
    } finally live.stop()

    // a FRESH stream (new checkpoint) reads everything under the wide schema
    drain(s"$base/out2", s"$base/ckpt2")
    val got = spark.read.parquet(s"$base/out2")
    assert(got.schema("k").dataType === LongType)
    assert(got.select($"k".as[Long]).collect().toSet === Set(1L, 3000000000L))
  }

  test("the catalog micro-batch face refuses a mid-stream widening the same way") {
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val stage = Files.createTempDirectory("graft-widen-cat-stream").toFile
    stage.deleteOnExit()
    val root = s"${stage.getAbsolutePath}/t$tag"
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k INT, p STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $lt VALUES (1, 'a')")
    val live = spark.readStream.table(lt)
      .writeStream.format("parquet")
      .option("path", s"$stage/out").option("checkpointLocation", s"$stage/ckpt")
      .start()
    try {
      live.processAllAvailable()
      spark.sql(s"ALTER TABLE $lt ALTER COLUMN k TYPE BIGINT")
      spark.sql(s"INSERT INTO $lt VALUES (3000000000, 'a')")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        live.processAllAvailable())
      val msg = e.getMessage + Option(e.getCause).fold("")(_.getMessage)
      assert(msg.contains("Restart the stream"), msg)
    } finally live.stop()
  }

  test("a restarted capped stream whose pending offsets predate the widening drains (no livelock)") {
    import org.apache.spark.sql.streaming.Trigger
    val base = Files.createTempDirectory("graft-widen-capped").toString
    val root = s"$base/tbl"
    import spark.implicits._
    LakeTable.init(spark, root, Seq((1, "a", 10)).toDF("k", "p", "v"), "p") // v1
    LakeTable.append(spark, root, Seq((2, "a", 11)).toDF("k", "p", "v")) // v2
    LakeTable.alterTable(spark, root, widenColumns = Map("k" -> LongType)) // v3
    LakeTable.append(spark, root, Seq((3000000000L, "a", 12)).toDF("k", "p", "v")) // v4
    // a stream started AFTER the widening captures the WIDE schema; with
    // maxVersionsPerTrigger=1 its first batch ends at v1, whose manifest
    // is still narrow. Narrow-under-wide is the supported reader
    // up-conversion — the batch must commit, not refuse: the refusal's
    // own remedy ("Restart the stream") would re-hit it forever.
    val q = spark.readStream.format("graft-lake")
      .option("maxVersionsPerTrigger", "1").load(root)
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    val got = spark.read.parquet(s"$base/out")
    assert(got.schema("k").dataType === LongType)
    assert(got.select($"k".as[Long]).collect().toSet === Set(1L, 2L, 3000000000L))
  }

  test("the DSv1 CDF stream refuses a mid-stream widening crisply, not with a cast error") {
    val base = Files.createTempDirectory("graft-widen-cdf").toString
    val root = s"$base/tbl"
    import spark.implicits._
    LakeTable.init(spark, root, Seq((1, "a", 10)).toDF("k", "p", "v"), "p")
    val live = spark.readStream.format("graft-lake")
      .option("readChangeFeed", "true").option("keyCols", "k").load(root)
      .writeStream.format("parquet")
      .option("path", s"$base/out").option("checkpointLocation", s"$base/ckpt")
      .start()
    try {
      live.processAllAvailable()
      LakeTable.alterTable(spark, root, widenColumns = Map("k" -> LongType))
      // a value out of the captured INT range: without the guard, slice
      // alignment casts it down and dies with a low-level ANSI cast error
      LakeTable.append(spark, root, Seq((3000000000L, "a", 20)).toDF("k", "p", "v"))
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        live.processAllAvailable())
      val msg = e.getMessage + Option(e.getCause).fold("")(_.getMessage)
      assert(msg.contains("Restart the stream"), msg)
    } finally live.stop()
  }

  test("the catalog __changes stream refuses a mid-stream widening the same way") {
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val stage = Files.createTempDirectory("graft-widen-chg").toFile
    stage.deleteOnExit()
    val root = s"${stage.getAbsolutePath}/t$tag"
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k INT, p STRING) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $lt VALUES (1, 'a')")
    val live = spark.readStream.option("keyCols", "k").table(s"$lt.__changes")
      .writeStream.format("parquet")
      .option("path", s"$stage/out").option("checkpointLocation", s"$stage/ckpt")
      .start()
    try {
      live.processAllAvailable()
      spark.sql(s"ALTER TABLE $lt ALTER COLUMN k TYPE BIGINT")
      spark.sql(s"INSERT INTO $lt VALUES (3000000000, 'a')")
      val e = intercept[org.apache.spark.sql.streaming.StreamingQueryException](
        live.processAllAvailable())
      val msg = e.getMessage + Option(e.getCause).fold("")(_.getMessage)
      assert(msg.contains("Restart the stream"), msg)
    } finally live.stop()
  }

  test("MERGE WITH SCHEMA EVOLUTION widens a narrower table column from the source type") {
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val stage = Files.createTempDirectory("graft-widen-merge").toFile
    stage.deleteOnExit()
    val root = s"${stage.getAbsolutePath}/t$tag"
    val lt = s"graft.`$root`"
    spark.sql(s"CREATE TABLE $lt (k INT, p STRING, v INT) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $lt VALUES (1, 'a', 10), (2, 'b', 20)")
    spark.sql("CREATE OR REPLACE TEMP VIEW widen_src AS " +
      "SELECT CAST(3000000000 AS BIGINT) AS k, 'a' AS p, CAST(30 AS BIGINT) AS v")
    val clauses = s"USING widen_src s ON t.k = s.k " +
      "WHEN MATCHED THEN UPDATE SET v = s.v " +
      "WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.k, s.p, s.v)"
    // without the opt-in the wide source refuses (no silent narrowing,
    // nothing committed)
    val v0 = LakeTable.snapshot(spark, root).version
    intercept[Exception](spark.sql(s"MERGE INTO $lt t $clauses"))
    assert(LakeTable.snapshot(spark, root).version === v0)
    // with it, Spark's evolution rule emits UpdateColumnType and the
    // catalog runs the same metadata-only widening as ALTER COLUMN TYPE
    spark.sql(s"MERGE WITH SCHEMA EVOLUTION INTO $lt t $clauses")
    val meta = LakeTable.snapshot(spark, root).meta.get
    assert(meta.schema("k").dataType === LongType)
    assert(meta.schema("v").dataType === LongType)
    val got = spark.sql(s"SELECT k, v FROM $lt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(got.toSeq === Seq((1L, 10L), (2L, 20L), (3000000000L, 30L)))
  }

  test("SQL surface: ALTER COLUMN TYPE through the catalog; DML over mixed-width files") {
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val stage = Files.createTempDirectory("graft-widen-sql").toFile
    stage.deleteOnExit()
    val lt = s"graft.`${stage.getAbsolutePath}/t$tag`"
    spark.sql(s"CREATE TABLE $lt (k INT, p STRING, v DECIMAL(6,2)) PARTITIONED BY (p)")
    spark.sql(s"INSERT INTO $lt VALUES (1, 'a', 12.34), (2, 'b', 99.99)")
    spark.sql(s"ALTER TABLE $lt ALTER COLUMN k TYPE BIGINT")
    spark.sql(s"ALTER TABLE $lt ALTER COLUMN v TYPE DECIMAL(12,2)")
    // a value only the widened types can hold, then DML across both file
    // generations in one statement
    spark.sql(s"INSERT INTO $lt VALUES (3000000000, 'a', 1234567890.12)")
    spark.sql(s"UPDATE $lt SET v = v + 1 WHERE k >= 2")
    val got = spark.sql(s"SELECT k, CAST(v AS STRING) AS v FROM $lt ORDER BY k")
      .collect().map(r => (r.getLong(0), r.getString(1)))
    assert(got.toSeq === Seq(
      (1L, "12.34"), (2L, "100.99"), (3000000000L, "1234567891.12")))
    // narrowing through SQL refuses crisply — Spark's own analyzer
    // rejects non-up-casts before the catalog ever sees the change
    val e = intercept[Exception](spark.sql(s"ALTER TABLE $lt ALTER COLUMN k TYPE INT"))
    assert(e.getMessage.contains("NOT_SUPPORTED_CHANGE_COLUMN") ||
      e.getMessage.contains("not a safe widening"), e.getMessage)
  }
}
