package graft.io

import java.nio.file.Files

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Partition pruning = the other half of scan discipline: a
  * date-partitioned layout lets a day filter skip whole directories.
  * At 100 TB this is the difference between listing/reading one day
  * and the full history. */
class PartitionedWriteSpec extends SparkSpec with AdaptiveSparkPlanHelper {
  private val sf = "/root/testdata/sf0.001"

  test("date-partitioned write + day filter prunes partitions at the scan") {
    val dir = Files.createTempDirectory("graft_part").toString
    val events = Sources.table(spark, sf, "events")
      .withColumn("d", to_date(col("ts")))
    events.write.mode("overwrite").partitionBy("d").parquet(s"$dir/ev")

    val day = java.sql.Date.valueOf("2024-01-05")
    val q = spark.read.parquet(s"$dir/ev").filter(col("d") === day)

    val scans = q.queryExecution.executedPlan.collect {
      case f: FileSourceScanExec => f
    }
    assert(scans.nonEmpty)
    // the day predicate must land in partitionFilters (directory
    // pruning), not dataFilters (row filtering after a full read)
    assert(scans.head.partitionFilters.exists(_.toString.contains("2024-01-05")),
      s"expected partition filter, got: ${scans.head.partitionFilters}")

    val expected = events.filter(col("d") === day).count()
    assert(q.count() === expected && expected > 0)
  }

  test("dynamic partition pruning: runtime dim predicate reaches the fact scan") {
    val dir = Files.createTempDirectory("graft_dpp").toString
    val events = Sources.table(spark, sf, "events")
      .withColumn("d", to_date(col("ts")))
    events.write.mode("overwrite").partitionBy("d").parquet(s"$dir/ev")

    // qA5's shape: dim = days strictly busier than the per-day average —
    // unknowable at plan time, so only DPP can prune the fact side.
    // The thresholds are scalar subqueries: the dim side must keep a
    // selective FILTER node (a cross-join form gets its predicate
    // pushed into the join condition and the PartitionPruning rule
    // declines to plant the pruning subquery).
    spark.read.parquet(s"$dir/ev").createOrReplaceTempView("dpp_fact")
    events.createOrReplaceTempView("dpp_events")
    val q = spark.sql("""
      WITH byday AS (SELECT d, count(1) AS n_day FROM dpp_events GROUP BY d)
      SELECT /*+ BROADCAST(dim) */ f.event_type, count(1) AS n
      FROM dpp_fact f
      JOIN (SELECT d FROM byday
            WHERE n_day * (SELECT count(1) FROM byday)
                  > (SELECT sum(n_day) FROM byday)) dim
        ON f.d = dim.d
      GROUP BY f.event_type""")

    val got = q.collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    // materialized above so AQE finalizes; the final plan string shows
    // the fact scan's PartitionFilters incl. the planted subquery
    val planStr = q.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n$planStr")

    // and the pruned result must equal the unpruned semantic twin
    val dim = events.groupBy("d").agg(count(lit(1)).as("n_day"))
      .crossJoin(events.groupBy("d").agg(count(lit(1)).as("x"))
        .agg(sum("x").as("total"), count(lit(1)).as("n_days")))
      .filter(col("n_day") * col("n_days") > col("total"))
      .select("d")
    val expected = events.join(dim, "d").groupBy("event_type").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(got == expected && got.nonEmpty)
  }

  test("q5C and qA5 prune their own staged partitioned read") {
    val q5C = SparkEntry.queries("q5C_partition_prune")(spark, sf)
    assert(q5C.collect().nonEmpty)
    val scans = collect(q5C.queryExecution.executedPlan) {
      case f: FileSourceScanExec => f
    }
    assert(scans.exists(_.partitionFilters.exists(
      _.toString.contains("2024-01-05"))),
      s"expected a 2024-01-05 partition filter, got: ${scans.map(_.partitionFilters)}")

    val qA5 = SparkEntry.queries("qA5_dynamic_prune")(spark, sf)
    assert(qA5.collect().nonEmpty)
    val planStr = qA5.queryExecution.executedPlan.toString
    assert(planStr.toLowerCase.contains("dynamicpruning"),
      s"expected a dynamicpruning partition filter in:\n$planStr")
  }
}
