package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.operators.{LakeStats, LakeTable}

/** Manifest-fed CBO column histograms: each batch write records an
  * equi-width histogram per numeric stats column in its index sidecar;
  * estimateStatistics folds the LIVE batches (liveness-scaled) and
  * surfaces the result through the DSv2 column-stats interface, where
  * Spark's cost-based FilterEstimation consumes it. Pins: a skewed
  * predicate's estimated rows tighten dramatically vs the min/max-only
  * uniform interpolation, the fold respects COW deletes, and the
  * histogram rows never disturb the Bloom machinery sharing the
  * sidecar dataset.
  */
class CboHistogramSpec extends SparkSpec {

  private def freshRoot(): String = {
    val d = Files.createTempDirectory("graft-cbohist").toFile
    d.deleteOnExit()
    s"${d.getAbsolutePath}/t"
  }

  /** rowCount estimate of the first Filter node under CBO. */
  private def estimatedRows(df: org.apache.spark.sql.DataFrame): BigInt = {
    val plan = df.queryExecution.optimizedPlan
    val filter = plan.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.getOrElse(fail(s"no Filter in optimized plan:\n$plan"))
    filter.stats.rowCount.getOrElse(fail(s"no rowCount estimate (CBO off?):\n$plan"))
  }

  test("skewed predicate estimates tighten vs min/max-only; COW delete re-scales") {
    val root = freshRoot()
    // 40k rows: 95% of keys in [0, 100), 5% spread over [100, 100000)
    val df = spark.range(40000).select(
      when(col("id") % 20 =!= 0, col("id") % 100)
        .otherwise(col("id") % 99900 + 100).as("k"),
      (col("id") % 4).cast("string").as("p"),
      col("id").as("v"))
    LakeTable.init(spark, root, df, "p", statsCol = Some("k"))

    spark.conf.set("spark.sql.cbo.enabled", "true")
    try {
      val lake = spark.read.format("graft-lake").load(root)
      val total = 40000.0
      val truth = lake.where(col("k") > 50000L).count().toDouble

      val est = estimatedRows(lake.where(col("k") > 50000L)).toDouble
      // min/max-only uniform interpolation would estimate ~(1 - 50000/99999)
      // of all rows ≈ 50%; the histogram knows the top half of the domain
      // holds only a sliver. Pin an order-of-magnitude tightening.
      assert(est < total * 0.15,
        s"histogram estimate must beat uniform interpolation: est=$est truth=$truth")
      assert(est >= truth * 0.1,
        s"estimate should not collapse below the real mass: est=$est truth=$truth")

      // the hot range estimates high, as it should
      val estHot = estimatedRows(lake.where(col("k") < 100L)).toDouble
      assert(estHot > total * 0.5,
        s"the hot range holds ~95% of rows; est=$estHot")

      // a COW delete of the hot range re-scales the fold (files dropped
      // from the entry list stop contributing their batch's mass)
      LakeTable.delete(spark, root, col("k") < 100L, "p")
      val lake2 = spark.read.format("graft-lake").load(root)
      val c2 = lake2.count().toDouble
      assert(c2 < total * 0.1, "delete should remove the ~95% hot mass")
      val est2 = estimatedRows(lake2.where(col("k") > 50000L)).toDouble
      assert(est2 < total * 0.15, s"post-delete estimate stays bounded: $est2")
    } finally spark.conf.set("spark.sql.cbo.enabled", "false")
  }

  test("histogram sidecar rows coexist with blooms; non-numeric stats cols skip") {
    val root = freshRoot()
    val df = spark.range(2000).select(
      col("id").as("k"),
      concat(lit("u"), col("id")).as("name"),
      (col("id") % 2).cast("string").as("p"))
    LakeTable.init(spark, root, df, "p", statsCols = Seq("k", "name"), bloomCols = Seq("k"))
    // bloom point lookup still prunes and still finds its row
    assert(LakeTable.readPoint(spark, root, "k", 777L).count() === 1)
    // histogram recorded for the numeric col only
    val snap = LakeTable.snapshot(spark, root)
    val hs = LakeStats.tableHistograms(spark, root, snap.entries, Seq("k", "name"))
    assert(hs.contains("k") && !hs.contains("name"), s"got ${hs.keySet}")
    val (lo, hi, counts) = hs("k")
    assert(lo === 0.0 && hi === 1999.0)
    assert(math.abs(counts.sum - 2000.0) < 1.0, s"mass preserved: ${counts.sum}")
  }
}
