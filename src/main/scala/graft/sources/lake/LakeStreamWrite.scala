package graft.sources.lake

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.hadoop.mapreduce.{Job, JobID, TaskAttemptID, TaskID, TaskType}
import org.apache.hadoop.mapreduce.task.TaskAttemptContextImpl
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
import org.apache.spark.sql.connector.write.{
  DataWriter, PhysicalWriteInfo, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{
  StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.execution.datasources.{OutputWriter, OutputWriterFactory}
import org.apache.spark.sql.execution.datasources.parquet.ParquetFileFormat
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.SerializableConfiguration

import graft.operators.LakeTable

/** `writeStream.toTable("graft.db.t")` — a real DSv2 [[StreamingWrite]]
  * on the lake table, with EXACTLY-ONCE effect from the transactional-
  * writer watermark (reference: Delta's streaming sink idempotent txn,
  * Spark FileStreamSink task-commit protocol):
  *
  *  - Each micro-batch gets a fresh uuid batch directory (chosen per
  *    [[createStreamingWriterFactory]] call, which the engine makes once
  *    per epoch). Executor [[DataWriter]]s write parquet task files
  *    through Spark's own parquet [[OutputWriterFactory]] (vectorizable
  *    files, field-id metadata stamped for column mapping) under
  *    DOT-TEMP names that do not end in `.parquet`; task COMMIT renames
  *    them visible. Speculative or failed attempts abort → their temps
  *    are deleted and never match the metadata listing, and the commit
  *    coordinator guarantees one committed attempt per partition.
  *  - Epoch commit on the driver = [[LakeTable.appendStreamEpoch]]:
  *    the same fused stats/Bloom/rows/bytes metadata pass as every
  *    other write, then one atomic manifest commit recording
  *    `appId -> epochId`. A recovery replay of a committed epoch is
  *    recognized by the watermark and skipped — its files stay an
  *    invisible orphan for vacuum, and the table state is exactly-once.
  */
class LakeStreamingWrite(root: String, schema: StructType, queryId: String)
  extends StreamingWrite {

  // set per epoch (createStreamingWriterFactory is invoked once per
  // micro-batch, before any task runs; commit/abort for that epoch
  // follow on the same driver thread)
  @volatile private var currentBatch: String = _

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory = {
    val spark = SparkSession.active
    currentBatch = s"batch-stream-${java.util.UUID.randomUUID().toString.take(8)}"
    val meta = LakeTable.snapshot(spark, root).meta.getOrElse(
      throw new IllegalStateException(s"graft-lake: no committed snapshot at $root"))
    require(meta.schema.fields.map(f => (f.name, f.dataType)).toSeq ==
      schema.fields.map(f => (f.name, f.dataType)).toSeq,
      s"graft-lake toTable: query schema ${schema.simpleString} must match the " +
        s"table schema ${meta.schema.simpleString} (no streaming schema evolution)")
    val partIdx = meta.schema.fieldIndex(meta.partitionCol)
    // Spark's parquet write factory over the ID-STAMPED schema: written
    // files carry field ids exactly like the batch write path, so they
    // keep reading across RENAME/DROP COLUMN
    val job = Job.getInstance(spark.sessionState.newHadoopConf())
    val factory = new ParquetFileFormat()
      .prepareWrite(spark, job, Map.empty, meta.schema)
    new LakeStreamWriterFactory(
      s"${graft.operators.LakeTable.dataRoot(root)}/data/$currentBatch", meta.schema, partIdx, meta.partitionFn,
      new SerializableConfiguration(job.getConfiguration), factory)
  }

  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    LakeTable.appendStreamEpoch(SparkSession.active, root, currentBatch,
      s"toTable-$queryId", epochId)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    // best-effort: an uncommitted batch dir is already invisible; vacuum
    // reclaims it even if this delete loses a race
    try {
      val p = new Path(s"${graft.operators.LakeTable.dataRoot(root)}/data/$currentBatch")
      val f = p.getFileSystem(
        SparkSession.active.sparkContext.hadoopConfiguration)
      f.delete(p, true): Unit
    } catch { case _: Exception => () }
  }
}

private[lake] class LakeStreamWriterFactory(
    batchDir: String,
    schema: StructType,
    partIdx: Int,
    partitionFn: String,
    conf: SerializableConfiguration,
    factory: OutputWriterFactory)
  extends StreamingDataWriterFactory {

  override def createWriter(
      partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    new LakeStreamDataWriter(
      batchDir, schema, partIdx, partitionFn, conf, factory,
      partitionId, taskId, epochId)
}

private[lake] case class LakeStreamCommitMessage(files: Seq[String])
  extends WriterCommitMessage

/** One writer per (task, epoch): rows fan out to one open parquet file
  * per partition VALUE (the same `__part=<escaped>` layout the batch
  * writer produces; NULL → the Hive default-partition sentinel), each
  * under a temp name renamed visible only in [[commit]].
  */
private[lake] class LakeStreamDataWriter(
    batchDir: String,
    schema: StructType,
    partIdx: Int,
    partitionFn: String,
    conf: SerializableConfiguration,
    factory: OutputWriterFactory,
    partitionId: Int,
    taskId: Long,
    epochId: Long)
  extends DataWriter[InternalRow] {

  private val partDt = schema(partIdx).dataType
  private val render = graft.operators.PartitionFn.renderer(partitionFn, partDt)
  private val ctx = new TaskAttemptContextImpl(conf.value,
    new TaskAttemptID(new TaskID(new JobID("graft-stream", 0), TaskType.MAP,
      partitionId), taskId.toInt))
  // dirName -> (writer, temp path, final path)
  private val open = mutable.Map.empty[String, (OutputWriter, Path, Path)]

  override def write(row: InternalRow): Unit = {
    // the directory value comes from the SAME PartitionFn the batch
    // writer and the pruner use — the three faces must agree
    // bit-for-bit or pruning goes unsound
    val pv =
      if (row.isNullAt(partIdx)) null
      else render(row.get(partIdx, partDt))
    val dirName =
      if (pv == null) LakeTable.NullPartition
      else ExternalCatalogUtils.escapePathName(pv.toString)
    val (w, _, _) = open.getOrElseUpdate(dirName, {
      val base = s"part-$partitionId-$taskId-$epochId-" +
        s"${java.util.UUID.randomUUID().toString.take(8)}"
      val fin = new Path(s"$batchDir/__part=$dirName/$base.parquet")
      // temp must NOT end in .parquet — the metadata listing keys off
      // that suffix, so an uncommitted attempt can never be picked up
      val tmp = new Path(s"$batchDir/__part=$dirName/.$base.inprogress")
      (factory.newInstance(tmp.toString, schema, ctx), tmp, fin)
    })
    w.write(row)
  }

  override def commit(): WriterCommitMessage = {
    val files = open.values.toSeq.map { case (w, tmp, fin) =>
      w.close()
      val f = tmp.getFileSystem(conf.value)
      require(f.rename(tmp, fin), s"graft-lake toTable: task publish failed for $fin")
      fin.toString
    }
    LakeStreamCommitMessage(files)
  }

  override def abort(): Unit =
    open.values.foreach { case (w, tmp, _) =>
      try w.close() catch { case _: Exception => () }
      try tmp.getFileSystem(conf.value).delete(tmp, false): Unit
      catch { case _: Exception => () }
    }

  override def close(): Unit = ()
}
