package graft.sources.lake

import java.nio.file.Files

import org.apache.spark.sql.catalyst.expressions.{AttributeReference, EqualTo, GreaterThanOrEqual, LessThanOrEqual, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DateType, LongType, StringType, TimestampType}
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec
import graft.operators.{LakeTable, PartitionFn}

/** Hidden partitioning (partition transforms): the partition value is a
  * FUNCTION of a source column — days/months/hours/bucket/truncate — so
  * queries filter the SOURCE column and the manifest prunes in
  * transform space. Pins: write/plan agreement (both faces must render
  * identical strings), source-range predicates pruning month partitions
  * (pruneEntries over the real written manifest), bucket equality
  * pruning, NULL routing to the null-partition sentinel, DML evaluated
  * in transform space, and the SQL face (PARTITIONED BY (months(ts))).
  */
class PartitionFnSpec extends SparkSpec {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-pfn").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  private def datedDf = {
    // 120 rows over 4 months (2024-01-01 + id days) incl. NULL dates
    spark.range(120).select(
      col("id").as("k"),
      when(col("id") % 40 === 39, lit(null).cast("date"))
        .otherwise(date_add(lit(java.sql.Date.valueOf("2024-01-01")),
          col("id").cast("int"))).as("d"),
      (col("id") * 10).as("v"))
  }

  private def index(root: String): LakeFileIndex = LakeFileIndex(spark, root, None)

  test("months(date): write/plan agreement, range pruning, NULL partition, DML") {
    val root = freshRoot()
    LakeTable.init(spark, root, datedDf, "d", partitionFn = "months")
    val snap = LakeTable.snapshot(spark, root)
    val parts = snap.entries.map(_.part).toSet
    assert(Set("2024-01", "2024-02", "2024-03", "2024-04").subsetOf(parts))
    assert(parts.contains(LakeTable.NullPartition), "NULL dates file under the sentinel")

    // full read round-trips (incl. nulls)
    val got = LakeTable.read(spark, root)
    assert(got.count() === 120)
    assert(got.where(col("d").isNull).count() === 3)

    // a source-column range predicate prunes to the months it spans
    val d = AttributeReference("d", DateType)()
    def day(s: String): Int = java.time.LocalDate.parse(s).toEpochDay.toInt
    val idx = index(root)
    val kept = idx.pruneEntries(Seq(
      GreaterThanOrEqual(d, Literal(day("2024-02-03"), DateType)),
      LessThanOrEqual(d, Literal(day("2024-03-05"), DateType))))
    assert(kept.nonEmpty && kept.size < snap.entries.size,
      s"range predicate must prune non-overlapping months (kept ${kept.size})")
    assert(kept.map(_.part).toSet.subsetOf(Set("2024-02", "2024-03")))

    // equality on the source column prunes to ONE month
    val keptEq = idx.pruneEntries(Seq(EqualTo(d, Literal(day("2024-01-20"), DateType))))
    assert(keptEq.map(_.part).toSet === Set("2024-01"))

    // the filtered scan itself stays correct (pruning is sound)
    val q = spark.read.format("graft-lake").load(root)
      .where(col("d").between(lit(java.sql.Date.valueOf("2024-02-03")),
        lit(java.sql.Date.valueOf("2024-03-05"))))
    assert(q.count() === datedDf
      .where(col("d").between(lit(java.sql.Date.valueOf("2024-02-03")),
        lit(java.sql.Date.valueOf("2024-03-05")))).count())

    // DML evaluates in transform space: delete everything from April on
    LakeTable.delete(spark, root,
      col("d") >= lit(java.sql.Date.valueOf("2024-04-01")), "d")
    assert(LakeTable.read(spark, root).where(col("d").isNotNull).count() ===
      datedDf.where(col("d") < lit(java.sql.Date.valueOf("2024-04-01"))).count())
  }

  test("bucket(N): equality prunes to one bucket; nulls to the sentinel; scan complete") {
    val root = freshRoot()
    val df = spark.range(200).select(
      when(col("id") % 50 === 49, lit(null).cast("string"))
        .otherwise(concat(lit("u"), col("id"))).as("user"),
      col("id").as("v"))
    LakeTable.init(spark, root, df, "user", partitionFn = "bucket:8")
    val snap = LakeTable.snapshot(spark, root)
    val buckets = snap.entries.map(_.part).toSet
    assert(buckets.contains(LakeTable.NullPartition))
    assert((buckets - LakeTable.NullPartition).forall(p => p.toInt >= 0 && p.toInt < 8))

    val u = AttributeReference("user", StringType)()
    val kept = index(root).pruneEntries(Seq(
      EqualTo(u, Literal(UTF8String.fromString("u17"), StringType))))
    assert(kept.map(_.part).toSet.size === 1, "equality prunes to the value's bucket")
    assert(kept.map(_.part).head ===
      PartitionFn("bucket:8", StringType, UTF8String.fromString("u17")))

    assert(spark.read.format("graft-lake").load(root).count() === 200)
    assert(spark.read.format("graft-lake").load(root)
      .where(col("user") === "u17").count() === 1)
  }

  test("truncate: string prefix and integer floor partitions; monotonic range pruning") {
    val root = freshRoot()
    import spark.implicits._
    val df = (0 until 100).map(i => (f"k$i%03d", i.toLong)).toDF("s", "v")
    LakeTable.init(spark, root, df, "s", partitionFn = "truncate:3")
    assert(LakeTable.snapshot(spark, root).entries.map(_.part).toSet ===
      (0 to 9).map(i => s"k0$i").toSet)
    // k042 -> partition "k04"
    val s = AttributeReference("s", StringType)()
    val kept = index(root).pruneEntries(Seq(
      EqualTo(s, Literal(UTF8String.fromString("k042"), StringType))))
    assert(kept.map(_.part).toSet === Set("k04"))
    assert(spark.read.format("graft-lake").load(root).where(col("s") >= "k095").count() === 5)

    val root2 = freshRoot()
    val df2 = spark.range(100).select(col("id").as("n"), (col("id") * 2).as("v"))
    LakeTable.init(spark, root2, df2, "n", partitionFn = "truncate:25")
    assert(LakeTable.snapshot(spark, root2).entries.map(_.part).toSet ===
      Set("0", "25", "50", "75"))
    val n = AttributeReference("n", LongType)()
    val keptN = index(root2).pruneEntries(Seq(
      GreaterThanOrEqual(n, Literal(60L, LongType))))
    assert(keptN.map(_.part).toSet === Set("50", "75"),
      "integer truncate ranges prune by floored bounds")
    assert(spark.read.format("graft-lake").load(root2).where(col("n") >= 60L).count() === 40)
  }

  test("SQL face: PARTITIONED BY (months(ts)); bucket via SQL; DESCRIBE reports transforms") {
    val d = Files.createTempDirectory("graft-pfn-cat").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.pfn (k BIGINT, ts TIMESTAMP, v BIGINT) " +
      "PARTITIONED BY (months(ts))")
    spark.sql("INSERT INTO graft.db.pfn SELECT id, " +
      "timestamp'2024-01-15 00:00:00' + make_interval(0, 0, 0, CAST(id AS INT), 0, 0, 0), " +
      "id * 7 FROM range(90)")
    val root = s"$d/db/pfn"
    assert(LakeTable.snapshot(spark, root).entries.map(_.part).toSet ===
      Set("2024-01", "2024-02", "2024-03", "2024-04"))
    val expected = spark.sql("SELECT count(*) FROM graft.db.pfn " +
      "WHERE ts >= timestamp'2024-03-01 00:00:00'").head.getLong(0)
    // cross-check the filter against the raw generator
    assert(expected === (0 until 90).count(i =>
      !java.time.LocalDate.of(2024, 1, 15).plusDays(i)
        .isBefore(java.time.LocalDate.of(2024, 3, 1))))

    val t = spark.sessionState.catalogManager.catalog("graft")
      .asInstanceOf[org.apache.spark.sql.connector.catalog.TableCatalog]
      .loadTable(org.apache.spark.sql.connector.catalog.Identifier.of(Array("db"), "pfn"))
    assert(t.partitioning().head.toString.toLowerCase.contains("months"))

    // DML through SQL in transform space
    spark.sql("DELETE FROM graft.db.pfn WHERE ts < timestamp'2024-02-01 00:00:00'")
    assert(spark.sql("SELECT count(*) c FROM graft.db.pfn").head.getLong(0) === 90 - 17)

    // bucket + truncate arrive through SQL too
    spark.sql("CREATE TABLE graft.db.pfnb (u STRING, v BIGINT) PARTITIONED BY (bucket(4, u))")
    spark.sql("INSERT INTO graft.db.pfnb SELECT concat('u', id), id FROM range(40)")
    assert(spark.sql("SELECT count(*) c FROM graft.db.pfnb WHERE u = 'u7'").head.getLong(0) === 1)
    val parts = LakeTable.snapshot(spark, s"$d/db/pfnb").entries.map(_.part).toSet
    assert(parts.forall(p => p.toInt >= 0 && p.toInt < 4))
  }

  test("streaming toTable writes derive transform partitions identically") {
    val d = Files.createTempDirectory("graft-pfn-st").toString
    spark.conf.set("spark.sql.catalog.graft.warehouse", d)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    spark.sql("CREATE TABLE graft.db.pfst (k BIGINT, ts TIMESTAMP) PARTITIONED BY (days(ts))")
    val src = s"${Files.createTempDirectory("pfst-src")}/in"
    spark.sql("SELECT id AS k, timestamp'2024-05-01 12:00:00' + " +
      "make_interval(0, 0, 0, CAST(id % 3 AS INT), 0, 0, 0) AS ts FROM range(30)")
      .write.parquet(src)
    val ck = Files.createTempDirectory("pfst-ck").toString
    spark.readStream.schema("k BIGINT, ts TIMESTAMP").parquet(src)
      .writeStream.option("checkpointLocation", ck)
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .toTable("graft.db.pfst").awaitTermination()
    val parts = LakeTable.snapshot(spark, s"$d/db/pfst").entries.map(_.part).toSet
    assert(parts === Set("2024-05-01", "2024-05-02", "2024-05-03"),
      s"streaming writer must derive day partitions, got $parts")
    assert(spark.sql("SELECT count(*) c FROM graft.db.pfst").head.getLong(0) === 30)
  }

  test("randomized write/plan agreement: column() == apply() over bulk values") {
    val rnd = new scala.util.Random(20260815)

    // dates: ±82 years around the epoch as epoch-day ints
    val days = (Seq.fill(300)(rnd.between(-30000, 40000)) ++ Seq(0, -1, 1)).distinct
    val dDf = spark.createDataFrame(days.map(Tuple1(_))).toDF("d")
      .select(col("d"), date_add(to_date(lit("1970-01-01")), col("d").cast("int")).as("dt"))
    for (fn <- Seq("days", "months")) {
      val got = dDf.select(col("d"),
        PartitionFn.column(fn, col("dt"), DateType).as("p")).collect()
      got.foreach(r => assert(r.getString(1) === PartitionFn(fn, DateType, r.getInt(0)),
        s"$fn(date) disagrees at epoch-day ${r.getInt(0)}"))
    }

    // timestamps: ±60 years as epoch micros (incl. pre-epoch floors)
    val micros = (Seq.fill(300)(rnd.between(-1900000000000000L, 1900000000000000L)) ++
      Seq(0L, -1L, -999999L, 86399999999L)).distinct
    val tDf = spark.createDataFrame(micros.map(Tuple1(_))).toDF("us")
      .select(col("us"), timestamp_micros(col("us")).as("ts"))
    for (fn <- Seq("days", "months", "hours")) {
      val got = tDf.select(col("us"),
        PartitionFn.column(fn, col("ts"), TimestampType).as("p")).collect()
      got.foreach(r => assert(r.getString(1) === PartitionFn(fn, TimestampType, r.getLong(0)),
        s"$fn(ts) disagrees at micros ${r.getLong(0)}"))
    }

    // strings: bucket + truncate (unicode, empty, shorter-than-width)
    val strs = (Seq.fill(300)(rnd.alphanumeric.take(rnd.between(0, 12)).mkString) ++
      Seq("", "é€漢", "ab")).distinct
    val sDf = spark.createDataFrame(strs.map(Tuple1(_))).toDF("s")
    for (fn <- Seq("bucket:7", "bucket:64", "truncate:3")) {
      val got = sDf.select(col("s"),
        PartitionFn.column(fn, col("s"), StringType).as("p")).collect()
      got.foreach(r => assert(
        r.getString(1) === PartitionFn(fn, StringType, UTF8String.fromString(r.getString(0))),
        s"$fn(string) disagrees at '${r.getString(0)}'"))
    }

    // longs: bucket across the full signed range; integral truncate
    // clear of the bottom width (flooring within `width` of MinValue is
    // unrepresentable — ANSI overflow on the write path, inherent)
    val longs = (Seq.fill(300)(rnd.nextLong()) ++
      Seq(0L, -1L, Long.MaxValue, Long.MinValue + 1)).distinct
    val bDf = spark.createDataFrame(longs.map(Tuple1(_))).toDF("n")
    val got = bDf.select(col("n"),
      PartitionFn.column("bucket:16", col("n"), LongType).as("p")).collect()
    got.foreach(r => assert(r.getString(1) === PartitionFn("bucket:16", LongType, r.getLong(0)),
      s"bucket(long) disagrees at ${r.getLong(0)}"))
    val safe = longs.filter(_ > Long.MinValue + 2000000000L)
    val lDf = spark.createDataFrame(safe.map(Tuple1(_))).toDF("n")
    for (fn <- Seq("truncate:25", "truncate:1000000007")) {
      val g = lDf.select(col("n"),
        PartitionFn.column(fn, col("n"), LongType).as("p")).collect()
      g.foreach(r => assert(r.getString(1) === PartitionFn(fn, LongType, r.getLong(0)),
        s"$fn(long) disagrees at ${r.getLong(0)}"))
    }
  }

  test("truncate over supplementary-plane strings: code points, not UTF-16 units") {
    // emoji / CJK-extension chars are surrogate PAIRS in the JVM —
    // substring() counting UTF-16 units would split or double-count
    // them, filing streaming-written rows under a different partition
    // than the batch writer and making fnEq/fnRange pruning unsound
    val rnd = new scala.util.Random(20260817)
    val supp = Seq(0x1F600, 0x1F680, 0x20000, 0x10348).map(Character.toChars(_).mkString)
    val strs = (Seq.fill(200) {
      (0 until rnd.between(0, 8)).map(_ =>
        if (rnd.nextBoolean()) supp(rnd.nextInt(supp.size))
        else ('a' + rnd.nextInt(26)).toChar.toString).mkString
    } ++ Seq("😀😀😀😀", "a😀b😀c", "𐍈𐍈", "漢😀漢")).distinct
    val sDf = spark.createDataFrame(strs.map(Tuple1(_))).toDF("s")
    for (fn <- Seq("truncate:1", "truncate:3", "truncate:5")) {
      val got = sDf.select(col("s"),
        PartitionFn.column(fn, col("s"), StringType).as("p")).collect()
      got.foreach(r => assert(
        r.getString(1) === PartitionFn(fn, StringType, UTF8String.fromString(r.getString(0))),
        s"$fn disagrees at '${r.getString(0)}' (code-point vs UTF-16 truncation)"))
    }
    // a split would also produce a lone surrogate — pin it cannot happen
    assert(PartitionFn("truncate:2", StringType, UTF8String.fromString("a😀b")) === "a😀")
    assert(PartitionFn("truncate:1", StringType, UTF8String.fromString("😀bc")) === "😀")
  }

  test("identity renders via the write path's cast-to-string (timestamps included)") {
    // three-faces contract for identity: apply() must equal cast-to-
    // string — "2024-01-01 00:00:00", NOT Instant's ISO "…T…Z" form
    val micros = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    assert(PartitionFn("identity", TimestampType, micros) === "2024-01-01 00:00:00")
    val date = java.time.LocalDate.of(2024, 3, 9).toEpochDay.toInt
    assert(PartitionFn("identity", DateType, date) === "2024-03-09")
    assert(PartitionFn("identity", LongType, -42L) === "-42")
    assert(PartitionFn("identity", StringType, UTF8String.fromString("x y")) === "x y")
    // bulk agreement against the actual Column face
    val tDf = spark.range(50).select(
      (col("id") * 7919L * 1000000L - 900000000000000L).as("us"))
      .select(col("us"), timestamp_micros(col("us")).as("ts"))
    val got = tDf.select(col("us"),
      PartitionFn.column("identity", col("ts"), TimestampType).as("p")).collect()
    got.foreach(r => assert(r.getString(1) === PartitionFn("identity", TimestampType, r.getLong(0)),
      s"identity(ts) disagrees at micros ${r.getLong(0)}"))
  }

  test("write/plan agreement across every transform (value sweep)") {
    val date = java.time.LocalDate.of(2023, 11, 7).toEpochDay.toInt
    val micros = java.time.Instant.parse("2023-11-07T22:15:00Z").toEpochMilli * 1000L
    assert(PartitionFn("days", DateType, date) === "2023-11-07")
    assert(PartitionFn("months", DateType, date) === "2023-11")
    assert(PartitionFn("days", TimestampType, micros) === "2023-11-07")
    assert(PartitionFn("hours", TimestampType, micros) === "2023-11-07-22")
    assert(PartitionFn("truncate:3", StringType, UTF8String.fromString("abcdef")) === "abc")
    assert(PartitionFn("truncate:10", LongType, -13L) === "-20")
    val b = PartitionFn("bucket:16", LongType, 12345L)
    assert(b.toInt >= 0 && b.toInt < 16)
    assert(PartitionFn("days", DateType, null) === null)
    // pre-epoch timestamps floor correctly (floorDiv, not truncation)
    val preEpoch = java.time.Instant.parse("1969-12-31T23:30:00Z").toEpochMilli * 1000L
    assert(PartitionFn("days", TimestampType, preEpoch) === "1969-12-31")

    // the write path renders in UTC whatever the session zone: under
    // America/Los_Angeles the written partition value is the planner's,
    // and an equality read keeps the row
    val t0 = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:00Z"))
    val t0Micros = t0.getTime * 1000L
    spark.conf.set("spark.sql.session.timeZone", "America/Los_Angeles")
    try Seq(PartitionFn.Identity, "days").foreach { fn =>
      val root = freshRoot()
      LakeTable.init(spark, root, spark.range(1).select(col("id").as("k"), lit(t0).as("ts")),
        "ts", partitionFn = fn)
      assert(LakeTable.snapshot(spark, root).entries.map(_.part) ===
        Seq(PartitionFn(fn, TimestampType, t0Micros)), fn)
      assert(spark.read.format("graft-lake").load(root).where(col("ts") === lit(t0))
        .count() === 1, fn)
    } finally spark.conf.set("spark.sql.session.timeZone", "UTC")
  }
}
