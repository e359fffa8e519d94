package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.Sources.table

/** Core relational operator surface (SURVEY.md §2.2–§2.5): scans,
  * filters/projections, every join variant, hash aggregation,
  * distinct aggregation, rollup, window functions, sort/limit,
  * set operations, pivot, conditional expressions.
  *
  * All of these are Spark built-ins — zero custom Catalyst work
  * (SURVEY.md §7.3). Each query is paired with an equivalent DuckDB
  * oracle SQL in [[oracles]].
  *
  * Scale notes (100 TB design review, per query):
  *  - Aggregations are partial+final hash aggregates (map-side
  *    combine); shuffle width = grouping-key cardinality, not input
  *    size.
  *  - Dimension joins (region/nation/customer-sized) are explicitly
  *    `broadcast()` — no shuffle of the fact side.
  *  - Fact-fact joins (orders ⋈ lineitem) shuffle on the join key —
  *    unavoidable without co-bucketing; AQE handles skew.
  *  - Filters/projections are pushed into the parquet scan by
  *    Catalyst (verified via .explain: PushedFilters / ReadSchema).
  *  - Top-k (sort+limit) plans as TakeOrderedAndProject: per-partition
  *    heap + driver merge of k rows, never a global sort.
  */
object Relational extends QueryModule {

  /** Per-row doubles are rounded before output on BOTH engines so
    * that last-ulp differences can't flip the driver's hash compare.
    * AGGREGATED money, though, is never `round(sum(double), 2)`
    * anymore (round 11): a float fold is partition-order-dependent in
    * its low bits — non-reproducible run-to-run on a real cluster —
    * and the scale-2 round diverges between Spark (BigDecimal HALF_UP
    * on the double's exact decimal expansion) and DuckDB
    * (multiply-then-round, where the ×100 ulp can cross the .5)
    * exactly when a sum lands on a .xx5 boundary — the jitter
    * perturbation sweep produced such a sum for q04. Money sums now
    * aggregate EXACT INTEGER CENTS (the [[cents]] helper; scale-0
    * round of x·100 recovers exact cents identically in both engines
    * for 2-decimal money) and apply ONE final division — exact below
    * 2⁵³ cents, deterministic at any scale, no rounding discipline
    * needed at all. */
  private val M = 2 // money scale (per-row output rounding only)

  /** Exact integer cents of a 2-decimal money double: x·100 sits
    * within ~1e-7 of an integer for |x| ≤ 1e7, so the scale-0 round
    * is exact and engine-agreed (it is round(x, 2) that diverges). */
  private def cents(c: Column): Column = round(c * 100).cast("long")

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // A1-family: filtered scan -> partial+final hash aggregate.
    // TPC-H Q1 shape (pricing summary). Ref analogue: demo.py:196-234
    // group-and-reduce, re-expressed as native groupBy().agg.
    "q01_agg_pricing" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-02 00:00:00")))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
          (sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          // disc price in exact 10⁻⁴-dollar units: price_c·(100−disc_c)
          (sum(cents(col("l_extendedprice"))
            * (lit(100L) - cents(col("l_discount")))) / 10000.0).as("sum_disc_price"),
          (sum(cents(col("l_quantity"))).cast("double")
            / (count(lit(1)) * 100)).as("avg_qty"),
          (sum(cents(col("l_discount"))).cast("double")
            / (count(lit(1)) * 100)).as("avg_disc"),
          count(lit(1)).as("count_order"))
    }),

    // P1/P2/F-NN: projection + predicate, both pushed to the scan.
    "q02_filter_project" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .filter(col("l_shipdate") >= lit(java.sql.Timestamp.valueOf("2000-01-01 00:00:00")) &&
          col("l_discount") > lit(0.06) && col("l_quantity") < lit(10))
        .select(
          col("l_orderkey"), col("l_linenumber"),
          // per-row money rounding via explicit cents: round(x*100)/100
          // is bit-identical across Spark and DuckDB (both round the
          // same IEEE product to an integer, then divide), whereas
          // round(x, 2) implementations diverge at .xx5 boundaries.
          (round(col("l_extendedprice") * col("l_discount") * 100, 0) / 100).as("disc_revenue"))
    }),

    // Broadcast hash join chain over the dimension tables (SURVEY §2.3:
    // the getCategory2 lookup generalized). Dims are broadcast: the
    // customer side never shuffles.
    "q03_join_broadcast" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      c.join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
        .join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
        .groupBy(col("r_name").as("region_name"))
        .agg(count(lit(1)).as("n_customers"),
          (sum(cents(col("c_acctbal"))) / 100.0).as("sum_acctbal"))
    }),

    // Fact-fact shuffle join (sort-merge/shuffled-hash chosen by
    // Catalyst+AQE) with post-join aggregation.
    "q04_join_shuffle" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem")
      o.join(l, col("o_orderkey") === col("l_orderkey"))
        .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("o_year"))
        .agg((sum(cents(col("l_extendedprice"))
            * (lit(100L) - cents(col("l_discount")))) / 10000.0).as("revenue"),
          count(lit(1)).as("n_lines"))
    }),

    // Left-semi join (EXISTS).
    "q05_join_semi" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val l = table(s, dir, "lineitem").filter(col("l_quantity") > 45)
      o.join(l, col("o_orderkey") === col("l_orderkey"), "left_semi")
        .groupBy("o_orderstatus")
        .agg(count(lit(1)).as("n_orders"),
          (sum(cents(col("o_totalprice"))) / 100.0).as("sum_price"))
    }),

    // Left-anti join (NOT EXISTS). Filtered right side so the result
    // is non-trivial at every SF (every customer has *some* order).
    "q06_join_anti" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders").filter(col("o_orderpriority") === "1-URGENT")
      c.join(o, col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_customers"))
    }),

    // Left-outer join with null-aware post-aggregation + na.fill
    // (SURVEY §2.2 FILL).
    "q07_join_outer" -> ((s, dir) => {
      val c = table(s, dir, "customer")
      val o = table(s, dir, "orders")
        .groupBy("o_custkey").agg(count(lit(1)).as("cnt"),
          sum(cents(col("o_totalprice"))).as("tot_c"))
      c.join(o, col("c_custkey") === col("o_custkey"), "left")
        .na.fill(0, Seq("cnt", "tot_c"))
        .groupBy("c_mktsegment")
        .agg(sum("cnt").as("n_orders"),
          (sum("tot_c") / 100.0).as("sum_price"),
          count(when(col("o_custkey").isNull, 1)).as("n_inactive"))
    }),

    // Window function: per-customer top-3 orders by price
    // (row_number over partitioned window; SURVEY §2.5 W).
    "q08_window_topk" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey")
        .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") <= 3)
        .select(col("o_custkey"), col("rn"), col("o_orderkey"),
          round(col("o_totalprice"), M).as("price"))
    }),

    // Global top-k: plans as TakeOrderedAndProject (heap per
    // partition + driver merge), NOT a full sort (SURVEY §2.5 S1/S2).
    "q09_sort_limit" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .orderBy(col("l_extendedprice").desc, col("l_orderkey").asc, col("l_linenumber").asc)
        .limit(100)
        .select(col("l_orderkey"), col("l_linenumber"),
          round(col("l_extendedprice"), M).as("price"))
    }),

    // Distinct aggregation (expand-based two-phase distinct agg).
    "q10_distinct_agg" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(countDistinct(col("l_suppkey")).as("n_supp"),
          countDistinct(col("l_partkey")).as("n_part"),
          count(lit(1)).as("n_rows"))
    }),

    // Set operations: UNION / INTERSECT / EXCEPT (all distinct
    // variants, matching SQL semantics).
    "q11_setops" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val big = o.filter(col("o_totalprice") > 400000).select(col("o_custkey"))
      val urgent = o.filter(col("o_orderpriority") === "1-URGENT").select(col("o_custkey"))
      val both = big.intersect(urgent).withColumn("tag", lit("both"))
      val bigOnly = big.except(urgent).withColumn("tag", lit("big_only"))
      val urgentOnly = urgent.except(big).withColumn("tag", lit("urgent_only"))
      both.union(bigOnly).union(urgentOnly)
        .groupBy("tag").agg(count(lit(1)).as("n"))
    }),

    // Multiset (bag) set operations — q11's ALL-variant siblings:
    // EXCEPT ALL / INTERSECT ALL preserve per-row multiplicity
    // (SQL:2003 bag semantics; min/difference of multiplicities per
    // value), which is what reconciliation between fact extracts
    // needs — DISTINCT forms hide duplicate-row drift entirely. Both
    // plan as a single aggregate on the value computing the two
    // counts, then a generate — no sort, no join. Output folds each
    // result to (rows, distinct values) so the multiset-vs-set gap
    // is itself the checked signal.
    "qC5_setops_all" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val r = li.filter(col("l_returnflag") === "R").select(col("l_partkey"))
      val f = li.filter(col("l_linestatus") === "F").select(col("l_partkey"))
      def fold(df: DataFrame, tag: String) =
        df.agg(lit(tag).as("op"), count(lit(1)).as("n_rows"),
          countDistinct(col("l_partkey")).as("n_values"))
      fold(r.exceptAll(f), "except_all")
        .unionByName(fold(r.intersectAll(f), "intersect_all"))
        .unionByName(fold(r.except(f), "except_distinct"))
        .unionByName(fold(r.intersect(f), "intersect_distinct"))
    }),

    // Typed Dataset API end-to-end: case-class Encoders +
    // KeyValueGroupedDataset + a custom `Aggregator` (compile-time
    // row types, case-class buffer). Catalyst plans the typed agg as
    // an ordinary partial+final aggregate — map-side combine runs
    // through `merge`, so the type safety is free at the exchange.
    // All buffer fields are exact integers ⇒ hash-checks like any
    // untyped agg.
    "qC7_typed_aggregator" -> ((s, dir) => {
      import s.implicits._
      import graft.functions.TypedStats
      val ds = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .as[(String, Long)]
      ds.groupByKey(_._1)
        .agg(TypedStats.CentStatsAgg.toColumn.name("s"))
        .toDF("flag", "s")
        .select(col("flag"), col("s.n").as("n"),
          col("s.cents").as("sum_cents"),
          col("s.mn").as("min_cents"), col("s.mx").as("max_cents"))
    }),

    // Date-part derivations: year/month/quarter (SURVEY §2.6
    // F.year/F.month/F.quarter).
    "q12_date_parts" -> ((s, dir) => {
      table(s, dir, "orders")
        .groupBy(year(col("o_orderdate")).as("o_year"),
          quarter(col("o_orderdate")).as("o_quarter"),
          month(col("o_orderdate")).as("o_month"))
        .agg(count(lit(1)).as("n_orders"),
          (sum(cents(col("o_totalprice"))) / 100.0).as("sum_price"))
    }),

    // Pivot (A6): group-by + spread month over columns, explicit value
    // list ⇒ single job (no distinct-values pre-pass), fillna(0).
    "q13_pivot_month" -> ((s, dir) => {
      val piv = table(s, dir, "orders")
        .groupBy("o_orderpriority")
        .pivot(month(col("o_orderdate")), (1 to 12).map(m => m: Any))
        .agg(sum(cents(col("o_totalprice"))) / 100.0)
        .na.fill(0.0)
      // rename numeric month columns to m1..m12 for stable naming
      (1 to 12).foldLeft(piv)((d, m) => d.withColumnRenamed(m.toString, s"m$m"))
    }),

    // Rollup with grouping-id (engine capability beyond the reference;
    // SURVEY §2.4 note).
    "q14_rollup" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg((sum(cents(col("l_quantity"))) / 100.0).as("sum_qty"),
          grouping_id().as("gid"))
        .na.fill("ALL", Seq("l_returnflag", "l_linestatus"))
    }),

    // Arbitrary GROUPING SETS (the general form rollup/cube are sugar
    // for — here both 1-D marginals plus the 2-D cells, but NOT the
    // grand total, which neither rollup nor cube can express): one
    // pass over the fact, grouping_id disambiguates set membership.
    "qAB_grouping_sets" -> ((s, dir) => {
      table(s, dir, "orders")
        .groupingSets(
          Seq(Seq(col("o_orderstatus"), col("o_orderpriority")),
            Seq(col("o_orderstatus")), Seq(col("o_orderpriority"))),
          col("o_orderstatus"), col("o_orderpriority"))
        .agg(count(lit(1)).as("n"),
          sum(floor(col("o_totalprice") * lit(100.0)).cast("long")).as("cents"),
          grouping_id().as("gid"))
        .na.fill("ALL", Seq("o_orderstatus", "o_orderpriority"))
    }),

    // Conditional expressions: when/otherwise + nullif/coalesce
    // (FILL / U-family shape).
    "q15_conditional" -> ((s, dir) => {
      table(s, dir, "customer")
        .withColumn("bal_band",
          when(col("c_acctbal") < 0, lit("negative"))
            .when(col("c_acctbal") < 5000, lit("low"))
            .otherwise(lit("high")))
        .withColumn("seg", coalesce(nullif(col("c_mktsegment"), lit("MACHINERY")), lit("OTHER")))
        .groupBy("bal_band", "seg")
        .agg(count(lit(1)).as("n"),
          (sum(cents(col("c_acctbal"))).cast("double")
            / (count(lit(1)) * 100)).as("avg_bal"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q01_agg_pricing" ->
      """SELECT l_returnflag, l_linestatus,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 AS sum_disc_price,
         CAST(CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
           / (count(*) * 100) AS avg_qty,
         CAST(CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
           / (count(*) * 100) AS avg_disc,
         count(*) AS count_order
         FROM lineitem
         WHERE l_shipdate <= TIMESTAMP '2000-09-02 00:00:00'
         GROUP BY l_returnflag, l_linestatus""",

    "q02_filter_project" ->
      """SELECT l_orderkey, l_linenumber,
         round(l_extendedprice * l_discount * 100) / 100 AS disc_revenue
         FROM lineitem
         WHERE l_shipdate >= TIMESTAMP '2000-01-01 00:00:00'
           AND l_discount > 0.06 AND l_quantity < 10""",

    "q03_join_broadcast" ->
      """SELECT r_name AS region_name, count(*) AS n_customers,
         CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_acctbal
         FROM customer
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         GROUP BY r_name""",

    "q04_join_shuffle" ->
      """SELECT o_orderpriority, CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) / 10000.0 AS revenue,
         count(*) AS n_lines
         FROM orders JOIN lineitem ON o_orderkey = l_orderkey
         GROUP BY o_orderpriority, year(o_orderdate)""",

    "q05_join_semi" ->
      """SELECT o_orderstatus, count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
         FROM orders
         WHERE EXISTS (SELECT 1 FROM lineitem
                       WHERE l_orderkey = o_orderkey AND l_quantity > 45)
         GROUP BY o_orderstatus""",

    "q06_join_anti" ->
      """SELECT c_mktsegment, count(*) AS n_customers
         FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
                           WHERE o_custkey = c_custkey
                             AND o_orderpriority = '1-URGENT')
         GROUP BY c_mktsegment""",

    "q07_join_outer" ->
      """WITH o AS (SELECT o_custkey, count(*) AS cnt,
                    CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS tot_c
                    FROM orders GROUP BY o_custkey)
         SELECT c_mktsegment,
         CAST(sum(COALESCE(cnt, 0)) AS BIGINT) AS n_orders,
         CAST(sum(COALESCE(tot_c, 0)) AS BIGINT) / 100.0 AS sum_price,
         count(*) FILTER (WHERE o.o_custkey IS NULL) AS n_inactive
         FROM customer LEFT JOIN o ON c_custkey = o.o_custkey
         GROUP BY c_mktsegment""",

    "q08_window_topk" ->
      """SELECT o_custkey, rn, o_orderkey, price FROM (
           SELECT o_custkey, o_orderkey, round(o_totalprice, 2) AS price,
             CAST(row_number() OVER (PARTITION BY o_custkey
               ORDER BY o_totalprice DESC, o_orderkey ASC) AS INTEGER) AS rn
           FROM orders) t
         WHERE rn <= 3""",

    "q09_sort_limit" ->
      """SELECT l_orderkey, l_linenumber, round(l_extendedprice, 2) AS price
         FROM lineitem
         ORDER BY l_extendedprice DESC, l_orderkey ASC, l_linenumber ASC
         LIMIT 100""",

    "q10_distinct_agg" ->
      """SELECT l_returnflag,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT l_partkey) AS n_part,
         count(*) AS n_rows
         FROM lineitem GROUP BY l_returnflag""",

    "q11_setops" ->
      """WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 400000),
           urgent AS (SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'),
           tagged AS (
             SELECT o_custkey, 'both' AS tag FROM (SELECT * FROM big INTERSECT SELECT * FROM urgent)
             UNION ALL
             SELECT o_custkey, 'big_only' AS tag FROM (SELECT * FROM big EXCEPT SELECT * FROM urgent)
             UNION ALL
             SELECT o_custkey, 'urgent_only' AS tag FROM (SELECT * FROM urgent EXCEPT SELECT * FROM big))
         SELECT tag, count(*) AS n FROM tagged GROUP BY tag""",

    "qC5_setops_all" ->
      """WITH r AS (SELECT l_partkey FROM lineitem WHERE l_returnflag = 'R'),
           f AS (SELECT l_partkey FROM lineitem WHERE l_linestatus = 'F'),
           ea AS (SELECT * FROM r EXCEPT ALL SELECT * FROM f),
           ia AS (SELECT * FROM r INTERSECT ALL SELECT * FROM f),
           ed AS (SELECT * FROM r EXCEPT SELECT * FROM f),
           id AS (SELECT * FROM r INTERSECT SELECT * FROM f)
         SELECT 'except_all' AS op, count(*) AS n_rows,
           count(DISTINCT l_partkey) AS n_values FROM ea
         UNION ALL SELECT 'intersect_all', count(*),
           count(DISTINCT l_partkey) FROM ia
         UNION ALL SELECT 'except_distinct', count(*),
           count(DISTINCT l_partkey) FROM ed
         UNION ALL SELECT 'intersect_distinct', count(*),
           count(DISTINCT l_partkey) FROM id""",

    "qC7_typed_aggregator" ->
      """SELECT l_returnflag AS flag, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents,
           CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS min_cents,
           CAST(max(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS max_cents
         FROM lineitem GROUP BY l_returnflag""",

    "q12_date_parts" ->
      """SELECT CAST(year(o_orderdate) AS INT) AS o_year,
         CAST(quarter(o_orderdate) AS INT) AS o_quarter,
         CAST(month(o_orderdate) AS INT) AS o_month,
         count(*) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_price
         FROM orders GROUP BY 1, 2, 3""",

    "q13_pivot_month" -> {
      val cols = (1 to 12).map(m =>
        s"COALESCE(CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) FILTER (WHERE month(o_orderdate) = $m) AS BIGINT) / 100.0, 0.0) AS m$m")
        .mkString(", ")
      s"SELECT o_orderpriority, $cols FROM orders GROUP BY o_orderpriority"
    },

    "q14_rollup" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
         COALESCE(l_linestatus, 'ALL') AS l_linestatus,
         CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_qty,
         CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)""",

    "qAB_grouping_sets" ->
      """SELECT COALESCE(o_orderstatus, 'ALL') AS o_orderstatus,
           COALESCE(o_orderpriority, 'ALL') AS o_orderpriority,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(o_totalprice * 100.0e0) AS BIGINT)) AS BIGINT) AS cents,
           CAST(GROUPING(o_orderstatus, o_orderpriority) AS BIGINT) AS gid
         FROM orders
         GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
           (o_orderstatus), (o_orderpriority))""",

    "q15_conditional" ->
      """SELECT CASE WHEN c_acctbal < 0 THEN 'negative'
                     WHEN c_acctbal < 5000 THEN 'low'
                     ELSE 'high' END AS bal_band,
         COALESCE(NULLIF(c_mktsegment, 'MACHINERY'), 'OTHER') AS seg,
         count(*) AS n,
         CAST(CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS DOUBLE)
           / (count(*) * 100) AS avg_bal
         FROM customer GROUP BY 1, 2"""
  )
}
