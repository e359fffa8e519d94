package graft.io


import graft.SparkSpec

/** Bucketing = the co-located join path (builder brief: "bucketing
  * for co-located joins"). Writing both fact tables bucketed by the
  * join key lets the join run with ZERO shuffle exchanges — at 100 TB
  * the difference between re-shuffling both tables per query and a
  * local merge per bucket. */
class BucketingSpec extends SparkSpec {

  test("join of co-bucketed tables plans without a shuffle exchange") {
    // spark.sql.warehouse.dir is static config — bucketed tables land
    // in the scratch warehouse io.Scratch.session sets, dropped below
    val o = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    val l = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    o.write.mode("overwrite").bucketBy(8, "o_orderkey")
      .sortBy("o_orderkey").saveAsTable("orders_b")
    l.write.mode("overwrite").bucketBy(8, "l_orderkey")
      .sortBy("l_orderkey").saveAsTable("lineitem_b")

    val joined = spark.table("orders_b")
      .join(spark.table("lineitem_b"),
        spark.table("orders_b")("o_orderkey") === spark.table("lineitem_b")("l_orderkey"))
    val physical = joined.queryExecution.executedPlan.toString

    assert(!physical.contains("Exchange hashpartitioning"),
      s"expected shuffle-free co-bucketed join, got:\n$physical")
    // and it still computes the right thing
    val n = joined.count()
    val expected = o.join(l, o("o_orderkey") === l("l_orderkey")).count()
    assert(n === expected)

    spark.sql("DROP TABLE IF EXISTS orders_b")
    spark.sql("DROP TABLE IF EXISTS lineitem_b")
  }
}
