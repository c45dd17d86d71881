package graft

import org.apache.spark.sql.GraftColumnBridge

import graft.engine.SparkEngine

/** Dump the EXECUTED (AQE-final) physical plans of the Spark actions a
  * DML / matview-refresh statement runs — the statement-internal plans
  * PlanDump (which explains a declared query's FINAL frame) cannot see.
  * Evidence artifact for plan-shape claims about the write path (e.g.
  * "the COW rewrite has no Exchange", "the refresh merge join converts
  * to shuffled-hash at runtime"). Manual probe; not part of the driver
  * contract.
  *
  * Usage: runMain graft.StmtPlanDump [sfDir] [outDir]
  */
object StmtPlanDump {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val out = args.lift(1).getOrElse("plans/r22")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(out))
    val spark = SparkEngine.session(master = "local[32]", appName = "graft-stmt-plan",
      shufflePartitions = 32)
    spark.conf.set("spark.sql.catalog.graft.warehouse",
      java.nio.file.Files.createTempDirectory("graft-stmt-plan").toString)
    spark.sql("CREATE NAMESPACE IF NOT EXISTS graft.db")
    graft.sources.Sources.table(spark, dir, "orders").createOrReplaceTempView("p_orders")

    val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[String]())
    spark.listenerManager.register(new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, durationNs: Long): Unit =
        plans.add(s"== action: $funcName ==\n${qe.executedPlan.toString}")
      override def onFailure(funcName: String,
          qe: org.apache.spark.sql.execution.QueryExecution, exception: Exception): Unit = ()
    })
    def capture(label: String, file: String)(f: => Unit): Unit = {
      // QueryExecutionListener is async: drain PRIOR statements' events
      // before clearing, and this statement's before reading
      GraftColumnBridge.drainListenerBus(spark)
      plans.clear()
      f
      GraftColumnBridge.drainListenerBus(spark)
      import scala.jdk.CollectionConverters._
      val text = s"== statement: $label ==\n\n" + plans.asScala.mkString("\n\n")
      java.nio.file.Files.write(java.nio.file.Paths.get(s"$out/$file"),
        text.getBytes("UTF-8"))
      System.err.println(s"[stmtplan] wrote $file (${plans.size()} action plans)")
    }

    spark.sql("CREATE TABLE graft.db.sp (o_orderkey BIGINT, o_orderstatus STRING, " +
      "o_totalprice DOUBLE) PARTITIONED BY (o_orderstatus) " +
      "TBLPROPERTIES (statsCols 'o_orderkey')")
    spark.sql("INSERT INTO graft.db.sp SELECT o_orderkey, o_orderstatus, " +
      "CAST(o_totalprice AS DOUBLE) FROM p_orders")
    spark.sql("CREATE MATERIALIZED VIEW graft.db.spmv AS SELECT o_orderstatus, " +
      "count(*) AS cnt, sum(o_orderkey) AS sum_o_orderkey FROM graft.db.sp " +
      "GROUP BY o_orderstatus")
    // warm one of each shape so the captured plans are the steady state
    spark.sql("UPDATE graft.db.sp SET o_totalprice = o_totalprice * 2 WHERE o_orderkey % 101 = 5")
    spark.sql("REFRESH MATERIALIZED VIEW graft.db.spmv")
    spark.sql("INSERT INTO graft.db.sp VALUES (3000000000, 'F', 1.5)")

    capture("COW UPDATE (narrow predicate)", "stmt_update_rewrite_after.txt") {
      spark.sql("UPDATE graft.db.sp SET o_totalprice = o_totalprice * 3 WHERE o_orderkey % 103 = 7")
    }
    capture("COW DELETE (narrow predicate)", "stmt_delete_rewrite_after.txt") {
      spark.sql("DELETE FROM graft.db.sp WHERE o_orderkey % 107 = 9")
    }
    capture("REFRESH MATERIALIZED VIEW (signed-delta merge)", "stmt_mv_refresh_after.txt") {
      spark.sql("REFRESH MATERIALIZED VIEW graft.db.spmv")
    }
    capture("COW MERGE INTO (key upsert)", "stmt_merge_upsert_after.txt") {
      spark.sql("MERGE INTO graft.db.sp t USING (SELECT o_orderkey, o_orderstatus, " +
        "CAST(o_totalprice * 2 AS DOUBLE) AS o_totalprice FROM p_orders " +
        "WHERE o_orderkey % 109 = 11 " +
        "UNION ALL SELECT 3000000001, 'F', 2.5) s ON t.o_orderkey = s.o_orderkey " +
        "WHEN MATCHED THEN UPDATE SET * WHEN NOT MATCHED THEN INSERT *")
    }
    spark.stop()
  }
}
