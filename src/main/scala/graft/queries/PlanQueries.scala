package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Sources.table
import graft.plans.{GroupedTopK, WindowTopKRewrite}

/** Driver surface for the custom-plan layer (graft.plans): the
  * GroupedTopK operator both through its direct API and through the
  * WindowTopKRewrite optimizer rule, each hash-checked against the
  * window-idiom SQL the operator replaces. Orderings carry a unique
  * key suffix so top-k is total (the operator's documented contract).
  */
object PlanQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Direct API: top-2 lineitems per supplier by price. The plan is
    // partial heap → one hash exchange of ≤ 2·|suppliers| rows per map
    // task → final heap; no sort, no rank column, no filter.
    "q72_grouped_topk" -> ((s, dir) =>
      GroupedTopK.topK(
          table(s, dir, "lineitem"),
          Seq(col("l_suppkey")),
          Seq(col("l_extendedprice").desc, col("l_orderkey").asc,
            col("l_linenumber").asc),
          2)
        .select("l_suppkey", "l_orderkey", "l_linenumber", "l_extendedprice")),

    // Rewrite rule: the user writes the row_number idiom; the
    // optimizer swaps in GroupedTopK (GroupedTopKSpec pins that the
    // rewrite actually fires and strips Spark's WindowGroupLimit; this
    // query driver-checks the rewritten plan's RESULTS, rank column
    // included).
    "q73_window_topk_rewrite" -> ((s, dir) => {
      WindowTopKRewrite.install(s)
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    })
  )

  def oracles: Map[String, String] = Map(
    "q72_grouped_topk" ->
      """SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice
         FROM (
           SELECT l_suppkey, l_orderkey, l_linenumber, l_extendedprice,
             row_number() OVER (PARTITION BY l_suppkey
               ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC) AS rn
           FROM lineitem) t
         WHERE rn <= 2""",

    "q73_window_topk_rewrite" ->
      """SELECT o_custkey, o_orderkey, o_totalprice, CAST(rn AS INTEGER) AS rn
         FROM (
           SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
           FROM orders) t
         WHERE rn <= 3"""
  )
}
