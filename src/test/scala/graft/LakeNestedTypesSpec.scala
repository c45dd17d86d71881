package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.LakeTable

/** Nested column types (STRUCT / ARRAY / MAP) through the lake surface:
  * the manifest round-trips the schema as DDL, field ids bind top-level
  * columns (nested fields ride inside), and the full verb set — insert,
  * merge, COW delete, MOR update, optimize, time travel, CDC — treats a
  * nested column like any other payload. Pins the end-to-end loop so a
  * schema-serialization or align()-cast regression on nested shapes
  * fails crisply here instead of silently in a user pipeline.
  */
class LakeNestedTypesSpec extends SparkSpec {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-nested").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/tbl"
  }

  private def baseDf = {
    import spark.implicits._
    spark.range(40).select(
      col("id").as("k"),
      (col("id") % 2).cast("string").as("p"),
      struct(col("id").as("a"), concat(lit("n"), col("id")).as("b")).as("s"),
      array(col("id"), col("id") * 2).as("xs"),
      map(lit("w"), col("id") * 10).as("m"))
  }

  test("struct/array/map columns: schema round-trip, DML verbs, time travel, CDC") {
    import spark.implicits._
    val root = freshRoot()
    LakeTable.init(spark, root, baseDf, "p", statsCol = Some("k"))

    // the manifest's DDL round-trip preserved the nested shape
    val meta = LakeTable.snapshot(spark, root).meta.get
    assert(meta.schema("s").dataType.isInstanceOf[StructType])
    // element nullability normalizes to permissive through the write path
    assert(meta.schema("xs").dataType === ArrayType(LongType, containsNull = true))
    assert(meta.schema("m").dataType.isInstanceOf[MapType])

    // MERGE rewrites nested payloads by key
    val upd = baseDf.where(col("k") < 5)
      .withColumn("s", struct(col("k").as("a"), lit("upd").as("b")))
      .withColumn("xs", array(lit(-1L)))
    LakeTable.merge(spark, root, upd, Seq("k"), "p")
    val merged = LakeTable.read(spark, root)
    assert(merged.where($"s.b" === "upd").count() === 5)
    assert(merged.where($"k" < 5).select(element_at($"xs", 1)).as[Long]
      .collect().forall(_ == -1L))
    assert(merged.count() === 40)

    // COW delete on a nested predicate (evaluated on the scan, not
    // prunable — correctness over pruning)
    LakeTable.delete(spark, root, element_at(col("m"), "w") >= 300L, "p")
    assert(LakeTable.read(spark, root).count() === 10 + 20)

    // MOR update leaves files in place, nested SET lands through DVs
    LakeTable.alterTable(spark, root, deleteMode = Some("mor"))
    LakeTable.update(spark, root, $"k" === 7L,
      Map("s" -> struct(lit(700L).as("a"), lit("mor").as("b"))), "p")
    val after = LakeTable.read(spark, root)
    assert(after.where($"s.b" === "mor").select($"s.a").as[Long].head() === 700L)

    // optimize compacts without disturbing nested payloads
    val pre = after.orderBy("k").collect()
    LakeTable.optimize(spark, root, minFilesPerPartition = 1)
    assert(LakeTable.read(spark, root).orderBy("k").collect() === pre)

    // time travel reads the ORIGINAL nested values
    assert(LakeTable.readVersion(spark, root, 1)
      .where($"k" === 1L).select($"s.b").as[String].head() === "n1")

    // CDC across the chain carries nested columns, and the row-equality
    // compare routes maps through the orderable proxy: rows the COW
    // delete/optimize rewrote UNCHANGED are suppressed (a naive struct
    // <=> would refuse on the map column), so the netted feed is
    // exactly {merge-updated 0-4, MOR-updated 7, map-deleted 30-39}
    val ch = LakeTable.tableChanges(spark, root, 1,
      LakeTable.snapshot(spark, root).version, Seq("k"))
    assert(ch.schema("s").dataType.isInstanceOf[StructType])
    assert(ch.where($"_change_type" === "update_postimage" && $"k" === 7L)
      .select($"s.b").as[String].collect().toSeq === Seq("mor"))
    assert(ch.where($"_change_type" === "insert").count() === 0)
    assert(ch.where($"_change_type" === "delete").select($"k").as[Long]
      .collect().toSet === (30L until 40L).toSet)
    assert(ch.where($"_change_type" === "update_postimage").select($"k").as[Long]
      .collect().toSet === Set(0L, 1L, 2L, 3L, 4L, 7L))
  }

  test("SQL face: nested types through the catalog incl. MERGE and stats pruning intact") {
    val tag = java.util.UUID.randomUUID.toString.replace("-", "")
    val stage = Files.createTempDirectory("graft-nested-sql").toFile
    stage.deleteOnExit()
    val lt = s"graft.`${stage.getAbsolutePath}/t$tag`"
    spark.sql(s"CREATE TABLE $lt (k BIGINT, p STRING, " +
      "s STRUCT<a: BIGINT, b: STRING>, xs ARRAY<BIGINT>, m MAP<STRING, BIGINT>) " +
      "PARTITIONED BY (p) TBLPROPERTIES (statsCols 'k')")
    spark.sql(s"INSERT INTO $lt SELECT id, CAST(id % 2 AS STRING), " +
      "named_struct('a', id, 'b', concat('n', id)), array(id, id * 2), " +
      "map('w', id * 10) FROM range(20)")
    spark.sql(s"MERGE INTO $lt t USING (SELECT 3L AS k, '1' AS p, " +
      "named_struct('a', 33L, 'b', 'merged') AS s) src ON t.k = src.k " +
      "WHEN MATCHED THEN UPDATE SET s = src.s")
    spark.sql(s"UPDATE $lt SET xs = array(9L) WHERE s.b = 'merged'")
    spark.sql(s"DELETE FROM $lt WHERE element_at(m, 'w') > 150")
    val got = spark.sql(s"SELECT k, s.b AS b, xs[0] AS x0 FROM $lt " +
      "WHERE k IN (3, 10) ORDER BY k").collect().map(r =>
      (r.getLong(0), r.getString(1), r.getLong(2)))
    assert(got.toSeq === Seq((3L, "merged", 9L), (10L, "n10", 10L)))
    assert(spark.sql(s"SELECT count(*) FROM $lt").head.getLong(0) === 16)
  }
}
