package graft.sources.lake


import org.apache.spark.sql.{DataFrame, SQLContext, SaveMode, SparkSession}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister}
import org.apache.spark.sql.types.StructType

import graft.operators.LakeTable

/** `graft-lake` — the DataSource face of [[graft.operators.LakeTable]]:
  *
  * {{{
  *   // batch read: manifest-pruned scan; versionAsOf = time travel
  *   spark.read.format("graft-lake").load(root)
  *   spark.read.format("graft-lake").option("versionAsOf", 3).load(root)
  *
  *   // SQL catalog face
  *   CREATE TABLE lake_orders USING `graft-lake` OPTIONS (path '<root>')
  *
  *   // batch write: create (partitionCol/statsCols options), append,
  *   // INSERT OVERWRITE — all transactional manifest commits
  *   df.write.format("graft-lake")
  *     .option("partitionCol", "o_orderstatus")
  *     .option("statsCols", "o_orderkey").save(root)
  *
  *   // streaming tail: manifest versions are the offsets
  *   spark.readStream.format("graft-lake").load(root)
  * }}}
  *
  * Every READ resolves through one DSv2 face, the same tables the
  * catalog hands out: batch and streaming reads of a root are a
  * [[GraftLakeV2Table]] (BatchScan over [[LakeScanBuilder]] — Spark's
  * vectorized parquet reader over the manifest-pruned [[LakeFileIndex]],
  * metadata-only aggregates, runtime file skipping, native deletion
  * vectors — and [[LakeMicroBatchStream]] for `readStream`), and
  * `readChangeFeed=true` maps onto the derived [[GraftLakeChangesTable]].
  * Reads have no v1 fallback, so `useV1SourceList` /
  * `disabledV2MicroBatchReaders` naming this format get Spark's own
  * unsupported-source error.
  *
  * WRITES keep the v1 [[CreatableRelationProvider]] route, because
  * SaveMode create-or-refuse semantics live there: Append →
  * [[LakeTable.append]], Overwrite → [[LakeTable.overwrite]] (full
  * replace, old versions still time-travel), ErrorIfExists / Ignore →
  * create-or-refuse. Creation requires `partitionCol` (`statsCols` opts
  * into per-file min/max collection).
  *
  * The STREAMING face treats the manifest version sequence as the
  * offset line: micro-batch (a, b] reads exactly the files ADDED by
  * pure-append commits in that range — manifests and data files are
  * immutable, so any replayed range reproduces the same rows
  * (exactly-once admission without a source-side log; restart resumes
  * from the checkpointed version). A commit that REMOVES files (merge,
  * delete, optimize) is not expressible as an append-only stream:
  * by default the stream fails crisply on it; `skipChangeCommits=true`
  * skips such commits wholly (the Delta semantics — rows added by a
  * change commit are NOT re-delivered, their original append already
  * streamed them; an OPTIMIZE's rewrite is likewise invisible).
  * `startingVersion=N` begins after version N instead of streaming the
  * initial snapshot; `maxVersionsPerTrigger=M` caps each micro-batch's
  * version span so a backlog drains in bounded batches.
  */
class GraftLake
  extends DataSourceRegister
  with CreatableRelationProvider
  with org.apache.spark.sql.connector.catalog.TableProvider {

  import GraftLake._

  override def shortName(): String = "graft-lake"

  // ---- read: DSv2 TableProvider face ----------------------------------
  //
  // `spark.read.format("graft-lake")` and `readStream.format("graft-lake")`
  // both resolve here. Writes call getTable too, before they decide
  // anything: no table here is SupportsWrite with BATCH_WRITE, so every
  // SaveMode falls back to the v1 createRelation below.

  override def supportsExternalMetadata(): Boolean = false

  private def v2Table(
      spark: SparkSession,
      options: Map[String, String]): org.apache.spark.sql.connector.catalog.Table = {
    val root = rootOf(options)
    if (opt(options, "readChangeFeed").exists(_.toBoolean)) {
      validateStreamOptions(options)
      val snap = LakeTable.snapshot(spark, root)
      require(snap.version > 0, s"graft-lake: no committed snapshot at $root")
      new GraftLakeChangesTable(s"`graft-lake`.`$root`.__changes", root, snap)
    } else {
      val versionAsOf = opt(options, "versionAsOf").map(_.toLong)
      versionAsOf match {
        case Some(v) =>
          new GraftLakeV2Table(s"`graft-lake`.`$root`", root,
            LakeTable.snapshotAt(spark, root, v), timeTravel = true)
        case None =>
          val snap = LakeTable.snapshot(spark, root)
          // a root with no committed snapshot yet must still resolve on
          // the WRITE path — the create-on-save flow lives in the v1
          // CreatableRelationProvider; reads fail crisply in the
          // placeholder's newScanBuilder
          if (snap.version == 0) new MissingLakeTable(root)
          else new GraftLakeV2Table(s"`graft-lake`.`$root`", root, snap)
      }
    }
  }

  override def inferSchema(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap): StructType = {
    import scala.jdk.CollectionConverters._
    v2Table(SparkSession.active, options.asCaseSensitiveMap().asScala.toMap).schema()
  }

  override def getTable(
      schema: StructType,
      partitioning: Array[org.apache.spark.sql.connector.expressions.Transform],
      properties: java.util.Map[String, String])
      : org.apache.spark.sql.connector.catalog.Table = {
    import scala.jdk.CollectionConverters._
    v2Table(SparkSession.active, properties.asScala.toMap)
  }

  // ---- batch write ---------------------------------------------------

  override def createRelation(
      sqlContext: SQLContext,
      mode: SaveMode,
      parameters: Map[String, String],
      data: DataFrame): BaseRelation = {
    val spark = sqlContext.sparkSession
    val root = rootOf(parameters)
    val exists = LakeTable.snapshot(spark, root).version > 0

    def create(): Unit = {
      val partitionCol = opt(parameters, "partitionCol").getOrElse(
        sys.error("graft-lake: creating a table requires the partitionCol option"))
      def cols(key: String) = opt(parameters, key)
        .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
      LakeTable.init(spark, root, data, partitionCol,
        statsCols = cols("statsCols"), bloomCols = cols("bloomCols"),
        deleteMode = opt(parameters, "deleteMode").getOrElse("cow"))
    }

    mode match {
      case SaveMode.Append => if (exists) LakeTable.append(spark, root, data) else create()
      case SaveMode.Overwrite => if (exists) LakeTable.overwrite(spark, root, data) else create()
      case SaveMode.ErrorIfExists =>
        require(!exists, s"graft-lake: $root already exists (mode=ErrorIfExists)")
        create()
      case SaveMode.Ignore => if (!exists) create()
    }
    // SaveIntoDataSourceCommand reads only the schema (to re-cache
    // plans over this path); no index or scan is built here
    val ctx = sqlContext
    val written = nullable(LakeTable.snapshot(spark, root).meta.get.schema)
    new BaseRelation {
      override def sqlContext: SQLContext = ctx
      override def schema: StructType = written
    }
  }
}

object GraftLake {

  /** Top-level nullable face of the table schema (StructType.asNullable
    * is spark-private): files from older schemas legitimately read NULL
    * for since-added columns, so the declared read/stream schema must not
    * promise NOT NULL.
    */
  private[lake] def nullable(s: StructType): StructType =
    StructType(s.fields.map(_.copy(nullable = true)))

  /** Change-feed face: the table schema plus the two CDC meta columns
    * `changesSince` stamps.
    */
  private[lake] def cdfSchema(base: StructType): StructType =
    StructType(base.fields ++ Seq(
      org.apache.spark.sql.types.StructField("_change_type",
        org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("_commit_version",
        org.apache.spark.sql.types.LongType)))

  /** Option lookup tolerant of the case-normalization DataFrameReader
    * applies (options may arrive lower-cased).
    */
  private def opt(parameters: Map[String, String], key: String): Option[String] =
    parameters.get(key).orElse(parameters.get(key.toLowerCase(java.util.Locale.ROOT)))

  private def rootOf(parameters: Map[String, String]): String =
    opt(parameters, "path").getOrElse(sys.error("graft-lake: path is required"))

  /** Change-feed option validation, run when the path face resolves so
    * a bad combination fails at `load`, not at query start.
    */
  private def validateStreamOptions(parameters: Map[String, String]): Unit = {
    val cdf = opt(parameters, "readChangeFeed").exists(_.toBoolean)
    val keyCols = opt(parameters, "keyCols")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty)).getOrElse(Nil)
    require(!cdf || keyCols.nonEmpty,
      "graft-lake: readChangeFeed=true requires the keyCols option (change " +
        "classification joins pre/post images on the key)")
    require(!(cdf && opt(parameters, "skipChangeCommits").exists(_.toBoolean)),
      "graft-lake: readChangeFeed and skipChangeCommits are mutually exclusive " +
        "(the change feed exists to DELIVER change commits)")
  }
}

/** Placeholder for a root with no committed snapshot on the DSv2 face.
  * It is not SupportsWrite, so DataFrameWriter's save falls back to the
  * v1 CreatableRelationProvider create flow. It declares both read
  * capabilities so a batch or streaming READ reaches `newScanBuilder`
  * and fails with the crisp missing-table error, not Spark's generic
  * unsupported-source one.
  */
private[lake] class MissingLakeTable(root: String)
  extends org.apache.spark.sql.connector.catalog.Table
  with org.apache.spark.sql.connector.catalog.SupportsRead {
  override def name(): String = s"`graft-lake`.`$root`"
  override def schema(): StructType = new StructType()
  override def capabilities()
      : java.util.Set[org.apache.spark.sql.connector.catalog.TableCapability] =
    java.util.EnumSet.of(
      org.apache.spark.sql.connector.catalog.TableCapability.BATCH_READ,
      org.apache.spark.sql.connector.catalog.TableCapability.MICRO_BATCH_READ)
  override def newScanBuilder(
      options: org.apache.spark.sql.util.CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    throw new IllegalArgumentException(
      s"graft-lake: no committed snapshot at $root")
}
