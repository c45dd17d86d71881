package graftbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.datasources.FilePartition
import org.apache.spark.sql.execution.datasources.v2.{BatchScanExec, DataSourceRDDPartition}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorders: one SparkListener (jobs, stages, tasks),
  * one QueryExecutionListener (Catalyst phases and lake scan files per
  * frame) and one StreamingQueryListener (micro-batch phases). Everything
  * is kept in memory and written by [[dump]] at exit.
  */
final class Tracer(spark: SparkSession) {
  final class Job(val id: Int, val group: String, val start: Long) {
    @volatile var end: Long = -1L
    @volatile var ok: Boolean = true
    val stages = new java.util.concurrent.atomic.AtomicInteger()
    val m = new Array[Long](Tracer.JobFields.size)
  }

  private val jobs = new ConcurrentHashMap[Int, Job]()
  private val stageJob = new ConcurrentHashMap[Int, Int]()
  private val frames = new ConcurrentLinkedQueue[String]()
  private val progress = new ConcurrentLinkedQueue[String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      jobs.put(e.jobId, new Job(e.jobId, group.orNull, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach { j =>
        j.end = e.time
        j.ok = e.jobResult == JobSucceeded
      }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      job(e.stageInfo.stageId).foreach(_.stages.incrementAndGet())
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      for (j <- job(e.stageId); t <- Option(e.taskMetrics)) j.m.synchronized {
        val v = Array(1L, t.executorRunTime, t.jvmGCTime,
          t.shuffleReadMetrics.totalBytesRead, t.shuffleWriteMetrics.bytesWritten,
          t.memoryBytesSpilled + t.diskBytesSpilled,
          t.inputMetrics.bytesRead, t.inputMetrics.recordsRead,
          t.outputMetrics.bytesWritten, t.outputMetrics.recordsWritten)
        var i = 0
        while (i < v.length) { j.m(i) += v(i); i += 1 }
      }
  }

  private def job(stageId: Int): Option[Job] =
    Option(stageJob.get(stageId)).flatMap(id => Option(jobs.get(id)))

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      frame(funcName, qe, ok = true)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      frame(funcName, qe, ok = false)
  }

  private def frame(funcName: String, qe: QueryExecution, ok: Boolean): Unit = {
    val end = System.currentTimeMillis()
    val phases = qe.tracker.phases.map { case (k, p) =>
      s"${Json.str(k)}:[${p.startTimeMs},${p.endTimeMs}]"
    }.mkString("{", ",", "}")
    val scans = lakeScans(qe)
    frames.add(Json.obj(
      "func" -> Json.str(funcName), "end" -> end.toString, "ok" -> ok.toString,
      "phases" -> phases,
      "lake_files" -> scans.map(_._2).sum.toString,
      "lake_scans" -> scans.size.toString))
  }

  /** Data files each DSv2 lake scan of the executed plan actually read. */
  private def lakeScans(qe: QueryExecution): Seq[(String, Int)] = {
    def walk(p: SparkPlan): Seq[BatchScanExec] = p match {
      case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
      case s: QueryStageExec => walk(s.plan)
      case b: BatchScanExec => Seq(b)
      case other => other.children.flatMap(walk) ++ other.subqueries.flatMap(walk)
    }
    try walk(qe.executedPlan).filter(_.table.name.contains(".")).map { b =>
      val files = b.inputRDD.partitions.toSeq.flatMap {
        case p: DataSourceRDDPartition => p.inputPartitions.collect {
          case f: FilePartition => f.files.map(_.urlEncodedPath).toSeq
        }.flatten
        case _ => Nil
      }
      b.table.name -> files.distinct.size
    } catch { case _: Exception => Nil }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      if (p.numInputRows > 0) {
        val d = p.durationMs.asScala.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString("{", ",", "}")
        progress.add(Json.obj(
          "name" -> Json.str(Option(p.name).getOrElse("")), "batch" -> p.batchId.toString,
          "start" -> java.time.Instant.parse(p.timestamp).toEpochMilli.toString,
          "rows" -> p.numInputRows.toString, "durations" -> d))
      }
    }
  }

  spark.sparkContext.addSparkListener(sparkListener)
  spark.listenerManager.register(qeListener)
  spark.streams.addListener(streamListener)

  /** Waits until every event posted so far has reached the listeners. */
  def drain(): Unit = org.apache.spark.GraftBenchBus.drain(spark.sparkContext)

  def dump(out: Out): Unit = {
    drain()
    out.lines("jobs.jsonl", jobs.values.asScala.toSeq.sortBy(_.id).map { j =>
      Json.obj(Seq("id" -> j.id.toString, "group" -> Json.str(Option(j.group).getOrElse("")),
        "start" -> j.start.toString, "end" -> j.end.toString, "ok" -> j.ok.toString,
        "stages" -> j.stages.get.toString) ++
        Tracer.JobFields.zip(j.m).map { case (k, v) => k -> v.toString }: _*)
    })
    out.lines("frames.jsonl", frames.asScala.toSeq)
    out.lines("progress.jsonl", progress.asScala.toSeq)
  }
}

object Tracer {
  val JobFields: Seq[String] = Seq("tasks", "task_ms", "gc_ms", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "input_bytes", "input_rows", "output_bytes",
    "output_rows")
}
