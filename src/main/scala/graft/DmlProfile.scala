package graft

import org.apache.spark.sql.GraftColumnBridge
import org.apache.spark.sql.functions._

import graft.engine.SparkEngine

/** Statement-level wall-time profile of the lake SQL harness shapes the
  * round benches flag (q167/q149-style chains) — attributes fixed cost
  * to CREATE / INSERT / DML / metadata-read so a regression points at a
  * phase, not a query. Manual probe; not part of the driver contract.
  *
  * Usage: runMain graft.DmlProfile [sfDir]
  */
object DmlProfile {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = SparkEngine.session(master = "local[32]", appName = "graft-dml-profile",
      shufflePartitions = 32)
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      java.nio.file.Files.createTempDirectory("graft-dml-profile").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    graft.sources.Sources.table(spark, dir, "orders").createOrReplaceTempView("p_orders")
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val tasks = new java.util.concurrent.atomic.AtomicInteger(0)
    val jobLog = java.util.Collections.synchronizedList(
      new java.util.ArrayList[(Long, String)]())
    val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        tasks.addAndGet(j.stageInfos.map(_.numTasks).sum)
        jobStart.put(j.jobId, System.nanoTime())
        jobLog.add((j.jobId.toLong,
          j.stageInfos.map(_.name.takeWhile(_ != '\n')).mkString(" | ").take(120)))
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        Option(jobStart.get(j.jobId)).foreach { t0 =>
          val ms = (System.nanoTime() - t0) / 1e6
          import scala.jdk.CollectionConverters._
          val name = jobLog.asScala.collectFirst {
            case (id, n) if id == j.jobId.toLong => n
          }.getOrElse("")
          println(f"[dmlprofile]   job ${j.jobId}%3d ${ms}%7.1f ms  $name")
        }
      }
    })
    def time(label: String)(f: => Unit): Double = {
      val (j0, k0) = (jobs.get(), tasks.get())
      val t0 = System.nanoTime(); f; val s = (System.nanoTime() - t0) / 1e9
      GraftColumnBridge.drainListenerBus(spark) // job counts come from the async bus
      println(f"[dmlprofile] $label%-34s $s%7.3f s  jobs=${jobs.get() - j0}%3d " +
        f"tasks=${tasks.get() - k0}%5d")
      s
    }
    // warm the session (catalog, codegen, parquet reader)
    spark.sql("SELECT count(*) FROM p_orders").collect()

    for (round <- 1 to 2) {
      println(s"[dmlprofile] ---- round $round ----")
      val t = s"graft.db.prof$round"
      time("CREATE TABLE") {
        spark.sql(s"CREATE TABLE $t (o_orderkey BIGINT, o_orderstatus STRING, " +
          "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
          "TBLPROPERTIES (statsCols 'o_orderkey,o_totalprice')")
      }
      time("INSERT (full orders)") {
        spark.sql(s"INSERT INTO $t SELECT o_orderkey, o_orderstatus, " +
          "CAST(o_totalprice AS DOUBLE) FROM p_orders")
      }
      time("INSERT (1 row)") {
        spark.sql(s"INSERT INTO $t VALUES (3000000000, 'F', 100.5)")
      }
      time("metadata GROUP BY (q167 shape)") {
        spark.sql(s"SELECT o_orderstatus, count(*) AS cnt, min(o_orderkey), " +
          s"max(o_orderkey), max(o_totalprice) FROM $t " +
          "GROUP BY o_orderstatus ORDER BY o_orderstatus").collect()
      }
      time("UPDATE (narrow)") {
        spark.sql(s"UPDATE $t SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 101 = 5")
      }
      time("DELETE (narrow)") {
        spark.sql(s"DELETE FROM $t WHERE o_orderkey % 103 = 7")
      }
      time("SELECT rollup (scan)") {
        spark.sql(s"SELECT o_orderstatus, count(*) FROM $t GROUP BY 1").collect()
      }
    }

    // matview maintenance: the shape the heavy bench tier is made of
    // (CREATE MV = full-aggregate init; REFRESH = signed-delta merge).
    // Statement job counts here attribute the refresh path's fixed cost.
    for (round <- 1 to 2) {
      println(s"[dmlprofile] ---- matview round $round ----")
      val src = s"graft.db.mvsrc$round"
      val mv = s"graft.db.mv$round"
      spark.sql(s"CREATE TABLE $src (o_orderkey BIGINT, o_orderstatus STRING, " +
        "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
        "TBLPROPERTIES (statsCols 'o_orderkey')")
      spark.sql(s"INSERT INTO $src SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice AS DOUBLE) FROM p_orders")
      time("CREATE MATERIALIZED VIEW") {
        spark.sql(s"CREATE MATERIALIZED VIEW $mv AS SELECT o_orderstatus, " +
          s"count(*) AS cnt, sum(o_orderkey) AS sum_o_orderkey FROM $src GROUP BY o_orderstatus")
      }
      time("source UPDATE (narrow)") {
        spark.sql(s"UPDATE $src SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 101 = 5")
      }
      time("source INSERT (1 row)") {
        spark.sql(s"INSERT INTO $src VALUES (3000000000, 'F', 100.5)")
      }
      time("REFRESH MATERIALIZED VIEW") {
        spark.sql(s"REFRESH MATERIALIZED VIEW $mv")
      }
      time("read MV") {
        spark.sql(s"SELECT * FROM $mv ORDER BY o_orderstatus").collect()
      }
    }
    spark.stop()
  }
}
