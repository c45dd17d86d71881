package graft.engine

import org.apache.spark.sql.SparkSession

/** Session factory for the graft engine.
  *
  * Defaults follow the scale design notes in SURVEY.md §7: AQE on (runtime
  * re-planning, skew-join splitting, partition coalescing), shuffle
  * partitions sized to the local core count rather than Spark's default 200
  * (on a real cluster this is expected to be overridden to ~2-3x total
  * cores), UTC session time zone so timestamp semantics are stable across
  * environments and match the DuckDB oracle. The `file:` scheme is
  * [[NioLocalFileSystem]] (and [[NioLocalFs]] for FileContext users such as
  * streaming checkpoints): Hadoop's local file system with permissions and
  * file status through java.nio, so writing a local lake file forks no
  * `chmod` and listing one forks no `ls`.
  */
object SparkEngine {

  /** Hadoop keys (without the `spark.hadoop.` prefix) that bind the
    * `file:` scheme to the fork-free classes. */
  private val localFileSystem = Seq(
    "fs.file.impl" -> classOf[NioLocalFileSystem].getName,
    "fs.AbstractFileSystem.file.impl" -> classOf[NioLocalFs].getName)

  /** Build (or reuse) a configured session. */
  def session(
      master: String = s"local[${Runtime.getRuntime.availableProcessors()}]",
      appName: String = "graft",
      shufflePartitions: Int = 32): SparkSession = {
    val builder = SparkSession
      .builder()
      .master(master)
      .appName(appName)
      // build-time extensions (functions, TopK planning, view DDL parser
      // + view substitution — the last two are only injectable here, not
      // on a live session)
      .withExtensions(new graft.functions.GraftExtensions)
      .config("spark.sql.shuffle.partitions", shufflePartitions.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.adaptive.skewJoin.enabled", "true")
      // runtime SMJ -> shuffled-hash conversion, gated on MEASURED
      // post-shuffle partition sizes (every partition must fit the local
      // map bound), so it is scale-safe by construction: a batch-sized
      // merge source skips two whole-stage sorts, a 100 TB join keeps
      // SMJ. Default 0 (off) upstream; bound chosen well under the
      // per-task execution-memory share. It bounds SERIALIZED bytes: the
      // in-memory hash relation is ~2-4x larger, and a FullOuter build
      // side cannot spill, so many tasks on a small executor can OOM where
      // SMJ would not — SPARK_GRAFT_SHJ_THRESHOLD exists to lower it.
      .config("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
        sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m"))
      .config("spark.sql.session.timeZone", "UTC")
      // Parquet TIMESTAMP(NANOS) (e.g. pandas-written event streams) is
      // otherwise an illegal type for the vectorized reader; surface it
      // as a LongType of epoch-nanos and convert explicitly.
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // column mapping (lake RENAME COLUMN): lake files carry parquet
      // field ids; match read columns by id so renames are metadata-only
      .config("spark.sql.parquet.fieldId.read.enabled", "true")
      .config("spark.ui.enabled", "false")
    // on the builder, so the context's first `file:` FileSystem (which
    // Hadoop caches per scheme and user) is already the fork-free class
    val spark = localFileSystem
      .foldLeft(builder) { case (b, (k, v)) => b.config(s"spark.hadoop.$k", v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    // engine extensions: native SQL functions, the TopKPerKey strategy and
    // the row_number-filter -> TopKPerKey optimizer rewrite
    graft.functions.GraftExtensions.register(spark)
    graft.plans.TopK.register(spark)
    registerLakeCatalog(spark)
    spark
  }

  /** The `graft` SQL catalog (CREATE TABLE graft.db.t / DELETE FROM /
    * VERSION AS OF / MERGE INTO against lake tables). Catalog configs are
    * resolved lazily at first lookup, so setting them on a live session
    * works; an explicitly-configured warehouse is left alone.
    */
  private def registerLakeCatalog(spark: SparkSession): Unit = {
    spark.conf.set("spark.sql.catalog.graft", "graft.sources.lake.GraftLakeCatalog")
    if (!spark.conf.getOption("spark.sql.catalog.graft.warehouse").exists(_.nonEmpty))
      spark.conf.set("spark.sql.catalog.graft.warehouse",
        s"${System.getProperty("java.io.tmpdir")}/graft-lake-warehouse")
    graft.plans.LakeMerge.register(spark)
  }

  /** Tune an externally-created session (e.g. the driver's) with the same
    * semantic settings without touching parallelism knobs.
    *
    * The fork-free `file:` classes are set on the live context's Hadoop
    * configuration. Hadoop caches one `file:` FileSystem per scheme and
    * user for the JVM: if one was created before this call (any earlier
    * local read or write creates it), that stock instance stays in use and
    * only the FileContext face (streaming checkpoints), which is not
    * cached, changes.
    */
  def align(spark: SparkSession): SparkSession = {
    localFileSystem.foreach { case (k, v) => spark.sparkContext.hadoopConfiguration.set(k, v) }
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    // same runtime SMJ->SHJ conversion as session() — correctness runs
    // must exercise the same plan shapes the bench measures. Same memory
    // caveat too: the hash relation is ~2-4x the serialized bound and a
    // FullOuter build side cannot spill; SPARK_GRAFT_SHJ_THRESHOLD lowers it
    spark.conf.set("spark.sql.adaptive.maxShuffledHashJoinLocalMapThreshold",
      sys.env.getOrElse("SPARK_GRAFT_SHJ_THRESHOLD", "64m"))
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.fieldId.read.enabled", "true")
    graft.functions.GraftExtensions.register(spark)
    graft.plans.TopK.register(spark)
    registerLakeCatalog(spark)
    spark
  }
}
