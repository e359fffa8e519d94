package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.CheckpointStrategy
import graft.io.Sources.table

/** Second relational batch: running/ranking window functions, cube
  * grouping sets, approximate distinct (HLL), as-of join, and range
  * join. The as-of join is composed from built-ins (union + last_value
  * over an ordered window) — preference (a) of the custom-operator
  * ladder; no custom SparkPlan needed for these semantics. DuckDB's
  * native ASOF JOIN serves as the oracle.
  */
object Relational2 extends QueryModule {

  /** (return flag, integer cents) per lineitem row, for qCD and qCC.
    * A one-row-group lineitem scans in a single task; the spread runs
    * the per-row BigDecimal `round` on every core. */
  private def centsByFlag(s: SparkSession, dir: String): DataFrame =
    graft.ops.Spread.scan(
        table(s, dir, "lineitem").select("l_returnflag", "l_extendedprice"),
        Seq(col("l_extendedprice")))
      .select(col("l_returnflag").as("flag"),
        round(col("l_extendedprice") * 100).cast("long").as("cents"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Deterministic string aggregation (LISTAGG / string_agg — the
    // one SQL reshaping surface not yet covered): per (returnflag,
    // linestatus), the comma-joined SORTED distinct ship modes.
    // collect_set's arrival order is partition-dependent, so the
    // array is array_sort'ed before joining — the ONLY way a
    // string-aggregate can hash-check across engines (and across
    // cluster layouts: an unordered listagg is nondeterministic at
    // ANY scale). Safe here because the aggregated domain is bounded
    // (5 order priorities); an unbounded listagg at 100 TB is an
    // anti-pattern regardless of ordering — the row would grow with
    // the corpus.
    // Data-contract validation (Deequ-style constraint suite) — six
    // declarative rules over lineitem evaluated in ONE pass: every
    // rule is a conditional sum in the same aggregate (NULL counts
    // as a violation — a contract a null can satisfy is no
    // contract), then stack() unpivots the single row into one row
    // per rule. Contrast qF8: FK rules need anti-joins; domain/
    // range/null rules need only this single scan — a full contract
    // suite at 100 TB costs one pass plus the FK audit, never a
    // pass per rule.
    "q10E_data_contract" -> ((s, dir) => {
      table(s, dir, "lineitem").agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("l_quantity").between(1, 50), 0L).otherwise(1L)).as("v1"),
          sum(when(col("l_discount").between(0, 0.1), 0L).otherwise(1L)).as("v2"),
          sum(when(col("l_extendedprice") > 0, 0L).otherwise(1L)).as("v3"),
          sum(when(col("l_tax") >= 0, 0L).otherwise(1L)).as("v4"),
          sum(when(col("l_orderkey").isNotNull
            && col("l_partkey").isNotNull, 0L).otherwise(1L)).as("v5"),
          sum(when(col("l_returnflag").isin("A", "N", "R"), 0L).otherwise(1L))
            .as("v6"))
        .select(col("n_rows"), expr(
          """stack(6,
               'quantity_in_1_50', v1,
               'discount_in_0_01', v2,
               'price_positive', v3,
               'tax_nonnegative', v4,
               'keys_not_null', v5,
               'returnflag_domain', v6) AS (rule, violations)"""))
        .select(col("rule"), col("n_rows"), col("violations"),
          (col("violations") === 0L).as("pass"))
    }),

    // Hash-bucket load audit — the layout-planning check run before
    // committing to a bucketed table spec: distribute rows over 32
    // md5 buckets of the would-be bucketing key and report each
    // bucket's load factor (n·32/total; 1.0 = perfectly even). An
    // uneven load here predicts straggler tasks in every downstream
    // bucketed join. Shape: narrow hash map → 32-row agg; the totals
    // ride back as a broadcast 1-row aggregate. Counts exact, load
    // factors one division each.
    "q109_bucket_skew" -> ((s, dir) => {
      val per = table(s, dir, "lineitem")
        .select((graft.dedup.Dedup.md5Long(
          concat(col("l_orderkey").cast("string"), lit("|"),
            col("l_linenumber").cast("string"))) % 32).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
      // r16 (guide §2.4): the crossJoined per.agg totals re-ran the
      // full lineitem md5 pass (pruned branches, no exchange reuse);
      // window over the 32-row bucket frame instead.
      val wAll = Window.partitionBy()
      per.withColumn("t", sum("n").over(wAll))
        .withColumn("mx", max("n").over(wAll))
        .select(col("bucket"), col("n"),
          (col("n").cast("double") * 32.0 / col("t").cast("double"))
            .as("load_factor"),
          (col("mx").cast("double") * 32.0 / col("t").cast("double"))
            .as("max_load"))
    }),

    // Exact grouped percentiles (p25/p50/p75) on a bounded value
    // domain — q100's cumulative-mass selection generalized to three
    // thresholds: first qty whose quadrupled running count reaches
    // p·total, an integer comparison per threshold. The corpus
    // collapses to ≤50 rows per flag BEFORE any window runs; the
    // three thresholds explode against that collapsed frame. This is
    // how exact quantiles ship at 100 TB when the domain is bounded
    // — reserve sketches (qCD) for unbounded domains.
    "q10A_grouped_percentiles" -> ((s, dir) => {
      val byQty = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("qty"))
        .groupBy("flag", "qty").agg(count(lit(1)).as("w"))
      val wc = Window.partitionBy("flag").orderBy(col("qty").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("flag")
      val ps = s.range(1).select(explode(
        array(lit(1L), lit(2L), lit(3L))).as("p"))
      byQty.withColumn("cum", sum("w").over(wc))
        .withColumn("tot", sum("w").over(wt))
        .crossJoin(broadcast(ps))
        .filter(lit(4L) * col("cum") >= col("p") * col("tot"))
        .groupBy("flag", "p")
        .agg(min("qty").as("qty_at_p"))
        .select(col("flag"), (col("p") * 25).as("pct"), col("qty_at_p"))
    }),

    // Exact weighted median (by revenue mass) per return flag — the
    // robust-center statistic percentile sketches approximate; here
    // the value domain is small (50 distinct quantities) so the
    // EXACT form ships at any scale: ONE map-side-combinable
    // groupBy(flag, qty) collapses the corpus to ≤50 rows per flag,
    // and the cumulative-mass selection (first qty whose doubled
    // running weight reaches the total — an integer comparison, no
    // float midpoint) runs on that collapsed frame. This is the
    // grouped-median discipline at 100 TB: aggregate first, window
    // never touches raw rows.
    "q100_weighted_median" -> ((s, dir) => {
      val byQty = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy("flag", "qty").agg(sum("cents").as("w"))
      val wc = Window.partitionBy("flag").orderBy(col("qty").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("flag")
      byQty.withColumn("cum", sum("w").over(wc))
        .withColumn("tot", sum("w").over(wt))
        .filter(lit(2L) * col("cum") >= col("tot"))
        .groupBy("flag")
        .agg(min("qty").as("median_qty"),
          min_by(col("cum"), col("qty")).as("cum_at_median"),
          max("tot").as("total_w"))
    }),

    // Referential-integrity audit over every FK edge of the schema —
    // the constraint-validation pass a warehouse runs after each
    // load (parquet lakes enforce nothing; orphan detection IS the
    // foreign key). Each edge is child ⟕̸ parent (left anti on the
    // key) collapsed to a count, plus the child row count — seven
    // 1-row aggregates unioned. Scale shape: every anti join is an
    // equi-join Catalyst plans as broadcast (dims) or shuffle-hash
    // (fact-to-fact) under AQE; counts are map-side partial; nothing
    // ever leaves the cluster but 7 rows. Clean data yields zero
    // orphans — the audit's cost, not its output, is the point.
    "qF8_ri_audit" -> ((s, dir) => {
      def edge(nm: String, child: DataFrame, ck: String,
               parent: DataFrame, pk: String): DataFrame = {
        val orphans = child.select(col(ck).as("k"))
          .join(parent.select(col(pk).as("k")), Seq("k"), "left_anti")
          .agg(count(lit(1)).as("orphans"))
        val rows = child.agg(count(lit(1)).as("child_rows"))
        orphans.crossJoin(rows)
          .select(lit(nm).as("edge"), col("child_rows"), col("orphans"))
      }
      val li = table(s, dir, "lineitem")
      val o = table(s, dir, "orders")
      val c = table(s, dir, "customer")
      val su = table(s, dir, "supplier")
      val p = table(s, dir, "part")
      val n = table(s, dir, "nation")
      val r = table(s, dir, "region")
      edge("lineitem->orders", li, "l_orderkey", o, "o_orderkey")
        .unionAll(edge("lineitem->part", li, "l_partkey", p, "p_partkey"))
        .unionAll(edge("lineitem->supplier", li, "l_suppkey", su, "s_suppkey"))
        .unionAll(edge("orders->customer", o, "o_custkey", c, "c_custkey"))
        .unionAll(edge("customer->nation", c, "c_nationkey", n, "n_nationkey"))
        .unionAll(edge("supplier->nation", su, "s_nationkey", n, "n_nationkey"))
        .unionAll(edge("nation->region", n, "n_regionkey", r, "r_regionkey"))
    }),

    "qEF_string_rollup" -> ((s, dir) => {
      table(s, dir, "orders")
        .groupBy("o_orderstatus")
        .agg(
          concat_ws(",", array_sort(collect_set(col("o_orderpriority")))).as("prios"),
          countDistinct(col("o_orderpriority")).as("n_prios"),
          count(lit(1)).as("n_rows"))
    }),

    // Window family beyond row_number: rank/dense_rank/lag + running
    // sum over an ordered partition.
    "q16_window_running" -> ((s, dir) => {
      val w = Window.partitionBy("o_custkey").orderBy(col("o_orderdate").asc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .filter(col("o_custkey") < 200)
        .select(col("o_custkey"), col("o_orderkey"),
          rank().over(w).as("rnk"),
          dense_rank().over(w).as("drnk"),
          coalesce(lag(col("o_orderkey"), 1).over(w), lit(-1)).as("prev_order"),
          (round(sum(col("o_totalprice")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)) * 100) / 100)
            .as("running_spend"))
    }),

    // CUBE grouping sets with grouping_id.
    "q17_cube" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .cube("l_returnflag", "l_linestatus")
        .agg(count(lit(1)).as("n"), grouping_id().as("gid"))
        .na.fill("ALL", Seq("l_returnflag", "l_linestatus"))
    }),

    // As-of join composed from built-ins: for every 'click' event,
    // the most recent 'purchase' by the same user at or before it.
    // Shape: union the two streams tagged, one shuffle on user_id,
    // last_value(ignoreNulls) over (user, ts) — scales as a single
    // sort-merge pass, no per-row probing.
    "q18_asof_join" -> ((s, dir) => {
      val e = table(s, dir, "events")
      val clicks = e.filter(col("event_type") === "click")
        .select(col("user_id"), col("ts"), col("event_id"), lit(null).cast("timestamp").as("p_ts"), lit(0).as("is_p"))
      val purchases = e.filter(col("event_type") === "purchase")
        .select(col("user_id"), col("ts"), lit(-1L).as("event_id"), col("ts").as("p_ts"), lit(1).as("is_p"))
      // purchases sort before clicks at identical ts so "at or
      // before" includes the same-instant purchase
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("is_p").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      clicks.union(purchases)
        .withColumn("last_purchase_ts", last(col("p_ts"), ignoreNulls = true).over(w))
        .filter(col("is_p") === 0)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n_clicks"),
          count(col("last_purchase_ts")).as("n_attributed"),
          max(col("last_purchase_ts")).as("last_attr_ts"))
    }),

    // Range (non-equi band) join against a small broadcast dim.
    "q19_range_join" -> ((s, dir) => {
      val bands = Seq((0.0, 50.0, "low"), (50.0, 150.0, "mid"), (150.0, 1e9, "high"))
      val dim = s.createDataFrame(bands).toDF("lo", "hi", "band")
      table(s, dir, "events")
        .join(broadcast(dim), col("value") >= col("lo") && col("value") < col("hi"))
        .groupBy("band", "event_type")
        .agg(count(lit(1)).as("n"),
          // exact cents sum + one division (the q04 jitter class)
          (sum(round(col("value") * 100).cast("long")) / 100.0).as("sum_value"))
    }),

    // Salted two-phase aggregation (skew mitigation): exact integer
    // cents so the per-salt partial sums re-combine bit-identically
    // to the direct groupBy the oracle runs.
    "q1B_salted_agg" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
        .withColumn("cents", round(col("l_extendedprice") * 100, 0).cast("long"))
      graft.ops.Skew.saltedSum(li, Seq("l_returnflag"), col("l_orderkey"),
        16, ("cents", "sum_cents"))
        .select(col("l_returnflag"), col("sum_cents"))
    }),

    // Distribution window functions: ntile / percent_rank / cume_dist
    // over a total order (deterministic; percent_rank's single
    // division is bit-stable).
    "q1F_window_dist" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("o_orderpriority")
        .orderBy(col("o_totalprice").asc, col("o_orderkey").asc)
      table(s, dir, "orders")
        .filter(col("o_custkey") < 100)
        .select(col("o_orderpriority"), col("o_orderkey"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("prank"),
          cume_dist().over(w).as("cdist"))
    }),

    // Ordered collect: sort_array(collect_set) makes the
    // nondeterministic accumulation order canonical.
    "q1G_collect" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(sort_array(collect_set(col("l_linestatus"))).as("statuses"),
          sort_array(collect_set(col("l_shipdate").cast("date"))).as("dates_sample"))
        .select(col("l_returnflag"),
          concat_ws(",", col("statuses")).as("statuses"),
          size(col("dates_sample")).as("n_dates"))
    }),

    // Correlated scalar subquery semantics: orders priced >1.5× the
    // mean of their priority class. Spark computes it as a window
    // aggregate (decorrelated, single pass) — the DuckDB oracle uses
    // a literal correlated subquery, so the two shapes check each
    // other. Exact-integer mean comparison (cents × n) avoids float
    // division entirely.
    "q1E_correlated" -> ((s, dir) => {
      val w = org.apache.spark.sql.expressions.Window.partitionBy("o_orderpriority")
      table(s, dir, "orders")
        .withColumn("cents", round(col("o_totalprice") * 100, 0).cast("long"))
        .withColumn("sum_c", sum("cents").over(w))
        .withColumn("n_c", count(lit(1)).over(w))
        // cents > 1.5·mean  ⇔  2·cents·n > 3·sum (integer-exact);
        // both sides in decimal(38,0): cents·n crosses 2^63 near
        // 5e11 orders per class, and 3·Σcents sooner
        .filter(col("cents").cast("decimal(38,0)") * 2 * col("n_c")
          > col("sum_c").cast("decimal(38,0)") * 3)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("n_pricey"), max("o_orderkey").as("max_key"))
    }),

    // Exact interpolated percentiles (both engines use the standard
    // (n-1)·p linear interpolation over sorted values — order-
    // independent, so doubles compare exactly).
    "q1C_percentiles" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          expr("percentile(l_quantity, 0.25)").as("p25"),
          expr("percentile(l_quantity, 0.5)").as("p50"),
          expr("percentile(l_quantity, 0.75)").as("p75"))
    }),

    // Pareto frontier (skyline): the set of (quantity, price) points
    // not dominated by any other — maximize quantity, minimize price.
    // Two-phase scale shape (the qB1 ECDF discipline): the corpus
    // collapses FIRST via a partial-agg groupBy to min-price-per-
    // quantity (|domain| rows), and only that collapsed frame sees a
    // window — the running min over higher quantities — so the
    // O(n²) dominance test never materializes and no corpus-sized
    // data crosses a single-partition window. Prices stay exact
    // integer cents end-to-end.
    "qD1_pareto_frontier" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val perQty = table(s, dir, "lineitem")
        .select(col("l_quantity").cast("long").as("qty"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .groupBy("qty").agg(min("cents").as("best_cents"),
          count(lit(1)).as("n_lines"))
      // frontier: strictly cheaper than every higher-quantity point
      val w = Window.orderBy(col("qty").desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      perQty
        .withColumn("min_above", min("best_cents").over(w))
        .filter(col("min_above").isNull || col("best_cents") < col("min_above"))
        .select("qty", "best_cents", "n_lines")
    }),

    // DDSketch mergeable quantile sketch (graft.functions.DDSketch) —
    // q1A's oracle construction applied to quantiles: the hash-checked
    // outputs are the exact spine (n + interpolated percentiles, the
    // q1C-proven quantile_cont equivalence) plus the sketch's
    // relative-error verdicts. Bound = 1.5·α: the α guarantee is on
    // the rank item, the spine interpolates between adjacent items —
    // the slack absorbs that gap while any real bucket-math or merge
    // regression still flips the booleans and fails the gate.
    "qCD_dd_quantiles" -> ((s, dir) => {
      // the array form builds and merges ONE value map for all three
      // levels, with the same interpolation per level
      centsByFlag(s, dir)
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          expr("percentile(cents, array(0.5, 0.95, 0.99))").as("p"),
          graft.functions.DDSketch(col("cents"), 0.02, 1024,
            Seq(0.5, 0.95, 0.99)).as("est"))
        .select(col("flag"), col("n"), element_at(col("p"), 1).as("p50"),
          element_at(col("p"), 2).as("p95"), element_at(col("p"), 3).as("p99"),
          col("est"))
        .select(col("flag"), col("n"), col("p50"), col("p95"), col("p99"),
          (abs(element_at(col("est"), 1) - col("p50"))
            <= lit(0.03) * col("p50")).as("ok50"),
          (abs(element_at(col("est"), 2) - col("p95"))
            <= lit(0.03) * col("p95")).as("ok95"),
          (abs(element_at(col("est"), 3) - col("p99"))
            <= lit(0.03) * col("p99")).as("ok99"))
    }),

    // KMV bottom-k distinct sketch (graft.functions.KmvSketch) doing
    // the thing HLL cannot: SET ALGEBRA between groups. Per-flag
    // sketches of the partkey domain are combined pairwise — union,
    // Jaccard, intersection estimates in pure Column code over the
    // minima arrays — and gated against the exact spine (per-flag
    // distinct + pairwise intersection via a distinct-pair self-join,
    // both engines exact). Bound = 10% of the union: k=1024 gives
    // rsd ≈ 1/√(k−2) ≈ 3.1% on the union and the Jaccard here is
    // near 1 with ~σ√(J(1−J)/k) noise, so 10% is a ≥3σ envelope;
    // deterministic (minima are data), so the booleans hash stably.
    // At 100 TB this is the corpus-shard-overlap audit: sketches
    // shuffle ≤ k longs per shard; exact pairwise count(DISTINCT)
    // would re-shuffle every shard pair.
    "qDA_kmv_overlap" -> ((s, dir) => {
      val K = 1024
      val pairs = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_partkey").as("pk"))
      val sk = pairs.groupBy("flag")
        .agg(graft.functions.KmvSketch(xxhash64(col("pk")), K).as("sk"),
          countDistinct(col("pk")).as("d"))
      val d = pairs.distinct()
      val inter = d.as("a").join(d.as("b"),
          col("a.pk") === col("b.pk") && col("a.flag") < col("b.flag"))
        .groupBy(col("a.flag").as("f1"), col("b.flag").as("f2"))
        .agg(count(lit(1)).as("exact_inter"))
      val K1 = col("sk1"); val K2 = col("sk2")
      inter
        .join(broadcast(sk.select(col("flag").as("f1"),
          col("sk").as("sk1"), col("d").as("d1"))), Seq("f1"))
        .join(broadcast(sk.select(col("flag").as("f2"),
          col("sk").as("sk2"), col("d").as("d2"))), Seq("f2"))
        .withColumn("exact_union", col("d1") + col("d2") - col("exact_inter"))
        .withColumn("est_union",
          graft.functions.KmvSketch.estimate(
            graft.functions.KmvSketch.unionK(K1, K2, K), K))
        .withColumn("est_inter",
          graft.functions.KmvSketch.jaccard(K1, K2, K) * col("est_union"))
        .select(col("f1"), col("f2"), col("d1"), col("d2"),
          col("exact_inter"), col("exact_union"),
          (abs(col("est_union") - col("exact_union"))
            <= lit(0.10) * col("exact_union")).as("ok_union"),
          (abs(col("est_inter") - col("exact_inter"))
            <= lit(0.10) * col("exact_union")).as("ok_inter"))
    }),

    // Bitmap-index distinct intersection — qDA's question answered
    // EXACTLY for bounded integer domains: each group's key set
    // becomes a word-sliced bitmap (word = key/64, bit_or of 1<<key%64
    // — idempotent, so raw rows feed it with NO distinct pass and the
    // partial agg absorbs duplicates map-side), and pairwise overlap
    // is sum(bit_count(a & b)) over an equi-join on word index. Per
    // group the shuffle is |domain|/64 longs regardless of row count
    // — the roaring-bitmap shape OLAP engines use for COUNT DISTINCT
    // semi-join pushdown. KMV (qDA) covers unbounded domains; this is
    // the exact fast path when keys are dense integers.
    "qDE_bitmap_intersect" -> ((s, dir) => {
      val bm = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"), col("l_partkey").as("pk"))
        .groupBy(col("flag"), floor(col("pk") / 64).cast("long").as("word"))
        .agg(expr("bit_or(shiftleft(CAST(1 AS BIGINT), CAST(pk % 64 AS INT)))")
          .as("bits"))
      val card = bm.groupBy("flag")
        .agg(sum(bit_count(col("bits")).cast("long")).as("cd"))
      bm.as("a").join(bm.as("b"),
          col("a.word") === col("b.word") && col("a.flag") < col("b.flag"))
        .groupBy(col("a.flag").as("f1"), col("b.flag").as("f2"))
        .agg(sum(bit_count(col("a.bits").bitwiseAND(col("b.bits"))).cast("long"))
          .as("n_inter"))
        // drop word-collision-only pairs (shared word, zero shared
        // keys): the oracle's key-level join never emits them, and an
        // empty intersection should read as "no row", not n_inter=0
        .filter(col("n_inter") > 0)
        .join(broadcast(card.select(col("flag").as("f1"), col("cd").as("d1"))), Seq("f1"))
        .join(broadcast(card.select(col("flag").as("f2"), col("cd").as("d2"))), Seq("f2"))
        .select(col("f1"), col("f2"), col("d1"), col("d2"), col("n_inter"))
    }),

    // Market-basket frequent pairs (Apriori level 2) with lift: parts
    // co-occurring in ≥2 orders, restricted to parts appearing in ≥5
    // orders. The ANTI-MONOTONE prune is the scale story: a frequent
    // pair requires both items frequent, so the (small) frequent-item
    // set broadcast-filters baskets BEFORE the per-order pair
    // expansion — the self-join is on l_orderkey, quadratic only in
    // basket size (≤7 here), never in the item domain. Counts exact;
    // lift assembled in one fixed-order float expression from exact
    // longs on both engines.
    "qDB_frequent_pairs" -> ((s, dir) => {
      // r15 opt: THREE consumers (items, pruned, tot) each re-ran the
      // single-split scan + distinct serially; spread the scan so the
      // distinct's partial agg is parallel and pin the ~n-row
      // basket frame so it is computed once (guide §2.4/§2.5)
      val b = CheckpointStrategy.EagerLocal.session("qDB").pin(
        graft.ops.Spread.scan(table(s, dir, "lineitem")
            .select(col("l_orderkey").as("ok"), col("l_partkey").as("pk")),
            Seq(col("ok")))
          .distinct())
      val items = b.groupBy("pk").agg(count(lit(1)).as("n"))
        .filter(col("n") >= 5)
      val pruned = b.join(broadcast(items.select("pk")), Seq("pk"), "left_semi")
      // basket pairs via ONE shuffle of the pruned basket rows +
      // in-task C(size,2) explode over the sorted basket array (≤7
      // items/order — bounded blow-up), vs the self-join spelling
      // that sort-merges two copies of the same stream (the q11B
      // wedge lesson, OpBench row 1.2×); sort_array makes pk1 < pk2
      // positional
      val pairs = graft.ops.Pairs.explodePairs(
          // r16: the r15 fanout pin here was DEAD CODE — repartition
          // (width, ok) over the basket aggregate's own
          // hashpartitioning(ok, width) exchange is redundant and the
          // planner eliminated it (no REPARTITION_BY_NUM in the r15
          // plan dump). The explode's parallelism is governed by AQE
          // coalescing of the basket-agg exchange, which is byte-
          // accurate within the bounded ≤C(7,2)=21x basket blow-up —
          // acceptable at every SF, so the no-op wrapper is removed
          // rather than replaced.
          pruned.groupBy("ok").agg(sort_array(collect_list("pk")).as("pks")),
          "pks", "pk1", "pk2")
        .groupBy("pk1", "pk2")
        .agg(count(lit(1)).as("n_pair"))
        .filter(col("n_pair") >= 2)
      val tot = b.agg(countDistinct(col("ok")).as("n_orders"))
      pairs
        .join(broadcast(items.select(col("pk").as("pk1"), col("n").as("n1"))), Seq("pk1"))
        .join(broadcast(items.select(col("pk").as("pk2"), col("n").as("n2"))), Seq("pk2"))
        .crossJoin(broadcast(tot))
        .select(col("pk1"), col("pk2"), col("n_pair"), col("n1"), col("n2"),
          (col("n_pair").cast("double") * col("n_orders")
            / (col("n1").cast("double") * col("n2"))).as("lift"))
    }),

    // Winsorized (clamped-tail) robust mean — the outlier-resistant
    // aggregate data-quality pipelines use where mean() is skewed by
    // a fat tail and trimming would change N. Two-phase: exact
    // percentile bounds per group (tiny frame, broadcast back), then
    // ONE exact-integer pass — counts below/above + the untouched
    // mid-range sum — with the winsorized mean assembled in a single
    // fixed-order float expression from those exact parts (the
    // bit-safe pattern: never sum clamped DOUBLES across partitions,
    // derive clamp effects algebraically as n_low·p05 + n_high·p95).
    "qCC_winsorized" -> ((s, dir) => {
      // both phases read the one spread exchange of `li`
      val li = centsByFlag(s, dir)
      val pct = li.groupBy("flag")
        .agg(expr("percentile(cents, array(0.05, 0.95))").as("p"))
        .select(col("flag"), element_at(col("p"), 1).as("p05"),
          element_at(col("p"), 2).as("p95"))
      li.join(broadcast(pct), Seq("flag"))
        .groupBy("flag")
        .agg(count(lit(1)).as("n"),
          sum(when(col("cents") < col("p05"), 1L).otherwise(0L)).as("n_low"),
          sum(when(col("cents") > col("p95"), 1L).otherwise(0L)).as("n_high"),
          sum(when(col("cents") >= col("p05") && col("cents") <= col("p95"),
            col("cents")).otherwise(0L)).as("mid_sum"),
          first(col("p05")).as("p05"), first(col("p95")).as("p95"))
        .withColumn("wins_mean",
          (col("mid_sum").cast("double")
            + col("n_low").cast("double") * col("p05")
            + col("n_high").cast("double") * col("p95"))
            / col("n").cast("double"))
    }),

    // String function family over part names.
    "q1D_string_funcs" -> ((s, dir) => {
      table(s, dir, "part")
        .select(col("p_partkey"),
          upper(col("p_name")).as("uname"),
          length(col("p_name")).as("nlen"),
          substring(col("p_name"), 1, 5).as("prefix"),
          reverse(col("p_name")).as("rname"),
          levenshtein(col("p_name"), col("p_type")).as("edit_dist"),
          translate(col("p_name"), "aeiou", "AEIOU").as("tname"))
    }),

    // HLL approximate distinct. The sketch value itself is engine-
    // specific (no DuckDB mirror), so the ORACLE-CHECKED outputs are
    // the exact spine plus the sketch's error-bound verdict: the HLL++
    // estimate at rsd=0.02 must land within 3σ of the exact count —
    // `within_bound` hash-checks as constant true. Spark's HLL is
    // deterministic (same set ⇒ same estimate), so this is a stable
    // hash at the certified scale factors, and a regression in the
    // sketch (or a grouping mix-up) flips the boolean and fails the
    // gate. NOTE: 3σ leaves a ~0.3%-per-group tail — a within_bound
    // flip on a NEW scale factor or regenerated data may be
    // legitimate sketch variance, not a bug; inspect the estimate
    // and re-baseline rather than assuming a regression.
    "q1A_approx_distinct" -> ((s, dir) => {
      // distinct (flag, partkey) first, so the exact count is a plain
      // count: the spread is hashed on the partkey, which already
      // clusters that aggregate, and the HLL sketch is insensitive to
      // duplicates, so it estimates the same over the distinct rows
      graft.ops.Spread.scan(
          table(s, dir, "lineitem").select("l_returnflag", "l_partkey"),
          Seq(col("l_partkey")))
        .distinct()
        .groupBy("l_returnflag")
        .agg(approx_count_distinct(col("l_partkey"), 0.02).as("approx"),
          count(col("l_partkey")).as("exact_parts"))
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts"))
            <= lit(0.06) * col("exact_parts")).as("within_bound"))
    }),

    // Unpivot (wide → long, the inverse of the pipeline's pivot):
    // integer-cents measures so the melt is exact. Narrow reshaping —
    // at scale unpivot is a flatMap, no shuffle beyond the feeding agg.
    "q90_unpivot" -> ((s, dir) => {
      val wide = table(s, dir, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          sum(round(col("l_quantity") * 100).cast("long")).as("qty_cents"),
          sum(round(col("l_extendedprice") * 100).cast("long")).as("price_cents"),
          sum(round(col("l_discount") * 100).cast("long")).as("disc_cents"))
      wide.unpivot(
        Array(col("l_returnflag")),
        Array(col("qty_cents"), col("price_cents"), col("disc_cents")),
        "measure", "cents")
    }),

    // Null-safe equality (<=>) and grouping-on-null, pinned against
    // IS NOT DISTINCT FROM: the status key is NULLed for 'O' rows, so
    // a plain inner equi-join would DROP the largest group while <=>
    // matches null to null — the exact semantic difference this query
    // hash-checks. Aggregate-then-join keeps it |distinct keys| rows.
    "q91_nullsafe_join" -> ((s, dir) => {
      def side(n: String) = table(s, dir, "orders")
        .withColumn("k",
          when(col("o_orderstatus") =!= "O", col("o_orderstatus")))
        .groupBy("k").agg(count(lit(1)).as(n))
      val l = side("n_left")
      val r = side("n_right").withColumnRenamed("k", "k2")
      l.join(r, col("k") <=> col("k2"))
        .select(col("k"), col("n_left"), col("n_right"))
    }),

    // Re-aggregatable distinct sketches (Spark 4 Datasketches HLL):
    // the warehouse "sketch rollup" pattern q1A's scalar estimate
    // cannot express — per-(flag, status) sketches are built ONCE,
    // then any coarser grouping merges the sketch BYTES
    // (hll_union_agg) with no re-scan of the fact table. At 100 TB
    // this is the difference between a distinct-count per dashboard
    // filter combination and one sketch table serving them all.
    // Verdict construction as q1A: exact spine + the estimate landing
    // within the sketch's error bound (lgK=14 → rse ≈ 0.8%; 5%
    // leaves ~6 sigma).
    "q95_hll_reaggregate" -> ((s, dir) => {
      val li = table(s, dir, "lineitem")
      val perStatus = li.groupBy("l_returnflag", "l_linestatus")
        .agg(expr("hll_sketch_agg(l_partkey, 14)").as("sk"))
      val merged = perStatus.groupBy("l_returnflag")
        .agg(expr("hll_sketch_estimate(hll_union_agg(sk, false))").as("approx"))
      li.groupBy("l_returnflag")
        .agg(countDistinct("l_partkey").as("exact_parts"))
        .join(merged, "l_returnflag")
        .select(col("l_returnflag"), col("exact_parts"),
          (abs(col("approx") - col("exact_parts"))
            <= lit(0.05) * col("exact_parts")).as("within_bound"))
    }),

    // Quantile sketch, q1A's construction: approx_percentile
    // (Greenwald–Khanna summaries — mergeable, bounded memory; the
    // sketch a 100 TB percentile needs where exact percentile means a
    // global sort) is engine-specific, so the ORACLE-CHECKED outputs
    // are the exact interpolated median plus the sketch's rank-error
    // verdict: GK at accuracy=100 guarantees the estimate's rank is
    // within n/100 of the target, and `within_bound` re-derives the
    // estimate's TRUE rank against that bound (+1 slack for the
    // discrete rank itself). The boolean is stable under any legal
    // partial-merge order because the bound is an algorithm guarantee,
    // not a measurement.
    "q92_approx_quantile" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").select("l_returnflag", "l_extendedprice")
      val apx = li.groupBy("l_returnflag")
        .agg(expr("approx_percentile(l_extendedprice, 0.5, 100)").as("apx"))
      li.join(broadcast(apx), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("n"),
          expr("percentile(l_extendedprice, 0.5)").as("exact_p50"),
          sum(when(col("l_extendedprice") <= col("apx"), 1L).otherwise(0L))
            .as("rank_apx"))
        .select(col("l_returnflag"), col("n"), col("exact_p50"),
          (abs(col("rank_apx") - col("n") * lit(0.5))
            <= col("n") / lit(100.0) + lit(1.0)).as("within_bound"))
    }),

    // Calendar gap-fill + forward-fill: the time-series densify every
    // monitoring/feature pipeline needs (a customer with no orders in a
    // month must still emit a row carrying the last observed value).
    // Spine = per-customer month sequence (integer year*12+month index,
    // engine-portable); fill = the portable grouping trick — a running
    // count of non-nulls assigns each gap row the group of its last
    // observation, then one max per (customer, group) recovers it.
    // Scale shape: spine is |customers|×|months| rows (never a
    // cross-join of facts), both windows partition by customer — fully
    // parallel, one shuffle. Integer cents keep it hash-exact.
    "q96_gap_fill" -> ((s, dir) => {
      val o = table(s, dir, "orders").filter(col("o_custkey") < 50)
        .withColumn("ym",
          (year(col("o_orderdate")) * 12 + month(col("o_orderdate")) - 1).cast("long"))
        .withColumn("cents", round(col("o_totalprice") * 100).cast("long"))
      val monthly = o.groupBy("o_custkey", "ym")
        .agg(sum(col("cents")).as("paid_cents"))
      val span = o.agg(min("ym").as("lo"), max("ym").as("hi"))
      val spine = o.select("o_custkey").distinct()
        .crossJoin(broadcast(span))
        .select(col("o_custkey"), explode(sequence(col("lo"), col("hi"))).as("ym"))
      val wCum = Window.partitionBy("o_custkey").orderBy("ym")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine.join(monthly, Seq("o_custkey", "ym"), "left")
        .withColumn("grp", count(col("paid_cents")).over(wCum))
        .withColumn("filled_cents",
          max(col("paid_cents")).over(Window.partitionBy("o_custkey", "grp")))
        .select(col("o_custkey"), col("ym"), col("paid_cents"), col("filled_cents"))
    }),

    // SCD type-2 interval construction from a change log: each event
    // opens a validity interval closed by the user's next event
    // (lead), open-ended for the latest (is_current). The
    // dimension-history build every warehouse ingest runs; window-only
    // plan — one shuffle on the entity key, no self-join.
    "q97_scd2_intervals" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      table(s, dir, "events").filter(col("user_id") < 50)
        .select(col("user_id"), col("event_id"), col("event_type"),
          col("ts").as("valid_from"),
          lead(col("ts"), 1).over(w).as("valid_to"),
          row_number().over(w).cast("long").as("version"))
        .withColumn("is_current", col("valid_to").isNull)
    }),

    // Changelog compaction (CDC upsert materialization): latest
    // record wins per key, the MERGE/compact every incremental ingest
    // runs. Engine plan is a single max_by aggregation — partial
    // aggregation combines map-side, so the shuffle carries ONE row
    // per key per task, never the full log; the window-sort idiom
    // (row_number = 1) would shuffle and sort every record. The
    // (ts, event_id) ordering struct makes last-wins deterministic
    // under ts ties.
    "q99_changelog_compact" -> ((s, dir) => {
      table(s, dir, "events")
        .groupBy("user_id")
        .agg(
          max_by(struct(col("event_type"), col("value"), col("ts")),
            struct(col("ts"), col("event_id"))).as("last"),
          count(lit(1)).as("n_events"))
        .select(col("user_id"), col("last.event_type").as("last_type"),
          col("last.value").as("last_value"), col("last.ts").as("last_ts"),
          col("n_events"))
    }),

    // Robust outlier detection (median / MAD): the scale- and
    // skew-insensitive anomaly screen (mean/stddev is dragged by the
    // outliers it is supposed to find). Flag = |x - median| > 3·MAD.
    // Exact-hash float discipline: integer cents; the interpolated
    // median of integers is exactly x or x.5 in a double, deviations
    // are multiples of 0.5, MAD multiples of 0.25 — every value and
    // comparison is IEEE-exact on both engines, no rounding anywhere.
    // Scale shape: two exact-percentile aggs over the fact (each a
    // single shuffle on the group key) + broadcast joins of the tiny
    // per-group stats; at 100 TB swap `percentile` for
    // `approx_percentile` under the q92 verdict construction.
    "q9B_robust_outliers" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderpriority").as("prio"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val med = o.groupBy("prio").agg(
        expr("percentile(cents, 0.5)").as("med"),
        count(lit(1)).as("n"))
      val dev = o.join(broadcast(med), "prio")
        .withColumn("dev", abs(col("cents") - col("med")))
      val mad = dev.groupBy("prio").agg(expr("percentile(dev, 0.5)").as("mad"))
      dev.join(broadcast(mad), "prio")
        .groupBy("prio")
        .agg(max(col("n")).as("n"), max(col("med")).as("med"),
          max(col("mad")).as("mad"),
          sum(when(col("dev") > lit(3.0) * col("mad"), 1L).otherwise(0L))
            .as("n_outliers"))
    }),

    // Key-skew profiler: the pre-flight diagnostic for every join/agg
    // key — rows, distinct keys, heaviest key (deterministic
    // tie-break: smallest id among the max count), and the skew ratio
    // max·keys/rows that decides between plain hash partitioning,
    // salting (q1B), and AQE skew-join. Two aggregations, both with
    // map-side partials; the ratio is one IEEE division from exact
    // integers so the double hash-matches.
    "q9C_skew_profile" -> ((s, dir) => {
      val kc = table(s, dir, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("c"))
      kc.groupBy("event_type")
        .agg(sum(col("c")).as("n_rows"),
          count(lit(1)).as("n_keys"),
          max(col("c")).as("max_cnt"),
          max_by(col("user_id"), struct(col("c"), -col("user_id")))
            .as("top_key"))
        .withColumn("skew",
          (col("max_cnt") * col("n_keys")).cast("double") / col("n_rows"))
    }),

    // Table profiling — the pre-flight every 100 TB run starts with
    // (null rates, cardinalities, bounds per column feed partition-
    // count / broadcast / skew decisions before any real query runs).
    // Two cheap passes instead of one Expand-heavy one: (1) a narrow
    // agg for counts/bounds — numeric min/max NATIVELY then rendered
    // to string (so ordering is numeric, not lexicographic), the
    // double column as exact integer cents, timestamps as yyyy-MM-dd;
    // (2) exact per-column distincts via unpivot → two-phase
    // distinct-then-count, whose shuffle is one row per DISTINCT
    // (col, value) after map-side partials. A single agg with six
    // exact countDistincts plans an Expand (rows × 7, all sorted) —
    // measured 3× slower. The 100 TB swap is approx_count_distinct
    // (one pass, no unpivot); exact is kept because the profile is
    // the oracle-checked output.
    "qA2_column_profile" -> ((s, dir) => {
      val o = table(s, dir, "orders")
      val cents = floor(col("o_totalprice") * lit(100.0)).cast("long")
      val narrow = o.agg(
        count(lit(1)).as("n_rows"),
        count(col("o_orderkey")).as("nn1"),
        min(col("o_orderkey")).cast("string").as("mn1"),
        max(col("o_orderkey")).cast("string").as("mx1"),
        count(col("o_custkey")).as("nn2"),
        min(col("o_custkey")).cast("string").as("mn2"),
        max(col("o_custkey")).cast("string").as("mx2"),
        count(col("o_orderstatus")).as("nn3"),
        min(col("o_orderstatus")).as("mn3"),
        max(col("o_orderstatus")).as("mx3"),
        count(col("o_orderpriority")).as("nn4"),
        min(col("o_orderpriority")).as("mn4"),
        max(col("o_orderpriority")).as("mx4"),
        count(col("o_orderdate")).as("nn5"),
        date_format(min(col("o_orderdate")), "yyyy-MM-dd").as("mn5"),
        date_format(max(col("o_orderdate")), "yyyy-MM-dd").as("mx5"),
        count(cents).as("nn6"),
        min(cents).cast("string").as("mn6"),
        max(cents).cast("string").as("mx6"))
      val bounds = narrow.select(
        expr("""stack(6,
            'o_orderkey',      n_rows - nn1, mn1, mx1,
            'o_custkey',       n_rows - nn2, mn2, mx2,
            'o_orderstatus',   n_rows - nn3, mn3, mx3,
            'o_orderpriority', n_rows - nn4, mn4, mx4,
            'o_orderdate',     n_rows - nn5, mn5, mx5,
            'o_totalprice_cents', n_rows - nn6, mn6, mx6)
          as (col_name, n_nulls, min_s, max_s)"""),
        col("n_rows"))
      val nd = o.select(expr("""stack(6,
            'o_orderkey',      CAST(o_orderkey AS STRING),
            'o_custkey',       CAST(o_custkey AS STRING),
            'o_orderstatus',   o_orderstatus,
            'o_orderpriority', o_orderpriority,
            'o_orderdate',     CAST(o_orderdate AS STRING),
            'o_totalprice_cents',
              CAST(CAST(FLOOR(o_totalprice * 100.0D) AS BIGINT) AS STRING))
          as (col_name, val)"""))
        .filter(col("val").isNotNull)
        .groupBy("col_name", "val").agg(count(lit(1)))
        .groupBy("col_name").agg(count(lit(1)).as("n_distinct"))
      bounds.join(nd, "col_name")
        .select("col_name", "n_rows", "n_nulls", "n_distinct", "min_s", "max_s")
    }),

    // RANGE-frame window (vs q16's ROWS frame): trailing 7-day spend
    // per customer — the frame is defined by the ORDER-BY VALUE
    // (day index −6 … current), so same-day peer rows all see the
    // full peer-inclusive total no matter their physical order, which
    // is exactly what makes RANGE deterministic where a ROWS spelling
    // of "last 7 days" is not. Integer cents, integer day index —
    // exact. One shuffle (customer partition), sorted within.
    "qAA_range_frame" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("unix_timestamp(o_orderdate) div 86400").as("day_idx"),
          floor(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      val w = Window.partitionBy("o_custkey").orderBy("day_idx")
        .rangeBetween(-6, Window.currentRow)
      o.withColumn("trail7_cents", sum("cents").over(w))
        .withColumn("trail7_orders", count(lit(1)).over(w))
    }),

    // Window navigation family (first/last/nth over the full
    // partition frame + lag/lead offsets): per-customer order
    // timeline — first/latest/second spend and the gap to the
    // neighboring orders. (day_idx, o_orderkey) is a total order, so
    // every navigation target is unique; integer cents/days — exact.
    "qAC_window_nav" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"),
          expr("unix_timestamp(o_orderdate) div 86400").as("day_idx"),
          floor(col("o_totalprice") * lit(100.0)).cast("long").as("cents"))
      val ord = Window.partitionBy("o_custkey")
        .orderBy(col("day_idx"), col("o_orderkey"))
      val full = ord.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      o.select(col("o_orderkey"), col("o_custkey"), col("day_idx"),
        col("cents"),
        first("cents").over(full).as("first_cents"),
        last("cents").over(full).as("last_cents"),
        nth_value(col("cents"), 2).over(full).as("second_cents"),
        (col("day_idx") - lag("day_idx", 1).over(ord)).as("days_since_prev"),
        (lead("day_idx", 1).over(ord) - col("day_idx")).as("days_to_next"))
    }),

    // Per-group OLS regression (price-cents on quantity) via the
    // one-pass closed form. Spark ships regr_slope/regr_intercept/
    // regr_r2, but their running double sums are partition-order-
    // sensitive and cannot hash-check across engines — so the moment
    // sums (n, Σx, Σy, Σxy, Σx², Σy²) are EXACT decimal(38,0)
    // integers (map-side partial aggregation still applies; decimal
    // sums are associative), and each float is produced by one
    // pinned cast/divide sequence on those exact integers. Magnitude
    // audit: y ≤ 1e7 cents, y² ≤ 1e14, n ≤ 6e5 ⇒ n·Σy² ≤ ~1e25 ≪
    // 1e38. Shape: one shuffle on a 3-value key, 6-row output.
    "qB3_group_regression" -> ((s, dir) => {
      val xy = table(s, dir, "lineitem").select(
        col("l_returnflag"),
        col("l_quantity").cast("long").as("x"),
        round(col("l_extendedprice") * 100).cast("long").as("y"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val m = xy.groupBy("l_returnflag").agg(
        count(lit(1)).as("n"),
        sum(dec(col("x"))).as("sx"),
        sum(dec(col("y"))).as("sy"),
        sum(dec(col("x") * col("y"))).as("sxy"),
        sum(dec(col("x") * col("x"))).as("sxx"),
        sum(dec(col("y") * col("y"))).as("syy"))
      val num = dec(col("n")) * col("sxy") - col("sx") * col("sy")
      val den = dec(col("n")) * col("sxx") - col("sx") * col("sx")
      val deny = dec(col("n")) * col("syy") - col("sy") * col("sy")
      m.select(col("l_returnflag"), col("n"),
          num.cast("double").as("numd"), den.cast("double").as("dend"),
          deny.cast("double").as("denyd"),
          col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"))
        .select(col("l_returnflag"), col("n"),
          (col("numd") / col("dend")).as("slope"),
          ((col("syd") - (col("numd") / col("dend")) * col("sxd")) / col("n"))
            .as("intercept"),
          (col("numd") * col("numd") / (col("dend") * col("denyd"))).as("r2"))
    }),

    // LATERAL correlated subquery join (SQL surface): top-2 customers
    // by balance per nation, the subquery re-planned per outer row by
    // Catalyst's DecorrelateInnerQuery — compiles to a ranked join,
    // not a per-row loop. (c_acctbal, c_name) is a total order, so
    // the 2-row cut is deterministic in both engines.
    "qB6_lateral_topk" -> ((s, dir) => {
      Seq("nation", "customer")
        .foreach(t => table(s, dir, t).createOrReplaceTempView(t))
      s.sql("""
        SELECT n.n_name, c.c_name, c.c_acctbal
        FROM nation n,
        LATERAL (SELECT c_name, c_acctbal FROM customer
                 WHERE c_nationkey = n.n_nationkey
                 ORDER BY c_acctbal DESC, c_name ASC LIMIT 2) c""")
    }),

    // Recursive CTE (Spark 4 WITH RECURSIVE): bounded BFS over the
    // customer–supplier trade graph (nodes long-encoded 2c / 2s+1 as
    // in qA3) — min hop count within 3 hops of customer 1. The
    // frontier recursion carries (node, hop) paths; min() collapses
    // path multiplicity after the fixpoint. Scale shape: each level
    // is one shuffle join frontier⋈edges; the hop bound caps the
    // iteration like qA3's fixed rounds. The loop-INVARIANT edge
    // list is pinned once outside the recursion — a CTE
    // inlined into the recursive step re-runs its orders⋈lineitem
    // build every level (measured 6.7s → 1.6s for 3 levels), the
    // same materialize-once move pageRank and Components make.
    "qB7_recursive_cte" -> ((s, dir) => {
      val o = table(s, dir, "orders").where(col("o_custkey") < 500)
        .select("o_orderkey", "o_custkey")
      val e0 = o.join(table(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          col("l_orderkey") === col("o_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
      CheckpointStrategy.EagerLocal.session("qB7").pin(
          e0.union(e0.select(col("dst").as("src"), col("src").as("dst")))
            .distinct())
        .createOrReplaceTempView("qb7_edges")
      s.sql("""
        WITH RECURSIVE reach(node, hop) AS (
          SELECT CAST(2 AS BIGINT) AS node, 0 AS hop
          UNION ALL
          SELECT e.dst, r.hop + 1
          FROM reach r
          JOIN qb7_edges e ON e.src = r.node
          WHERE r.hop < 3)
        SELECT node, min(hop) AS min_hops
        FROM reach GROUP BY node""")
    }),

    // Ratio-to-report (percent-of-total) window: each order's share
    // of its priority class's revenue — the unbounded-frame SUM
    // window that reports contribution without a self-join against
    // a totals aggregate. Exact: share in parts-per-million is
    // integer floor-division of exact cent sums; the double ratio is
    // one cast-divide on the same integers. Scale: partitions by the
    // 5-value class — at a skewed key this is q1B's salting
    // territory; here the window is the honest single-pass shape.
    "qC8_ratio_to_report" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderpriority"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = Window.partitionBy("o_orderpriority")
      o.select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
        sum("cents").over(w).as("class_cents"))
        .select(col("o_orderkey"), col("o_orderpriority"), col("cents"),
          col("class_cents"),
          expr("cents * 1000000 div class_cents").as("share_ppm"),
          (col("cents").cast("double") / col("class_cents")).as("share"))
    }),

    // SQL-defined functions (Spark 4): a scalar SQL UDF nested inside
    // a SQL TABLE function — reusable query logic declared in pure
    // SQL, inlined by the analyzer into the caller's plan (no opaque
    // closure, so pushdown/codegen see through both). The oracle is
    // the hand-inlined equivalent — matching hashes prove the
    // function layer is a zero-cost abstraction.
    "qC0_sql_udf" -> ((s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION disc_cents(p DOUBLE, d DOUBLE)
               RETURNS BIGINT RETURN CAST(round(p * (1 - d) * 100) AS BIGINT)""")
      s.sql("""CREATE OR REPLACE TEMPORARY FUNCTION flag_items(flag STRING)
               RETURNS TABLE(cents BIGINT, qty BIGINT)
               RETURN SELECT disc_cents(l_extendedprice, l_discount) AS cents,
                             CAST(l_quantity AS BIGINT) AS qty
                      FROM lineitem WHERE l_returnflag = flag""")
      s.sql("""SELECT count(*) AS n, sum(cents) AS revenue_cents,
                      sum(qty) AS qty
               FROM flag_items('R')""")
    }),

    // SQL pipe syntax (Spark 4 |> operators) — the linear dataflow
    // spelling of filter → aggregate → having → order; parses to the
    // identical logical plan as the nested-ANSI oracle.
    "qBA_pipe_syntax" -> ((s, dir) => {
      table(s, dir, "lineitem").createOrReplaceTempView("lineitem")
      s.sql("""
        FROM lineitem
        |> WHERE l_quantity >= 10
        |> AGGREGATE count(*) AS n,
             sum(CAST(l_quantity AS BIGINT)) AS qty,
             sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS cents
           GROUP BY l_returnflag, l_linestatus
        |> WHERE n > 50""")
    }),

    // Equi-depth histogram (8 equal-count buckets over the price
    // distribution — the shape optimizers and drift monitors want;
    // equi-WIDTH collapses under fat tails). The textbook spelling is
    // ntile(8) over a GLOBAL order, but an unpartitioned window moves
    // ALL rows into ONE task — the classic 100 TB killer. This plans
    // the scalable twin: a range-repartitioned sort (Spark's global
    // sort, parallel across tasks), per-partition row_number, and a
    // 32-row partition-count ledger whose running sum turns local
    // ranks into exact global ranks via a broadcast join — no
    // single-task window ever sees the data. Bucket boundaries follow
    // ntile's exact remainder rule (first n%8 buckets get one extra
    // row), ties broken by the (orderkey, linenumber) PK so
    // assignment is bit-deterministic. The oracle IS the naive global
    // ntile — proving the distributed rank construction exact.
    "qE2_equidepth_hist" -> ((s, dir) => {
      // the range-ledger rank construction now lives in
      // ops/DistributedRank (round 8) so q106/qA9/q108 share it; this
      // query's oracle is the naive global ntile, which keeps the
      // factored helper pinned bit-exact.
      val keys = Seq(col("cents").asc, col("l_orderkey").asc,
        col("l_linenumber").asc)
      val li = table(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_orderkey"), col("l_linenumber"))
      graft.ops.DistributedRank.withNtile(li, 32, 8, keys, "bucket")
        .groupBy("bucket")
        .agg(count(lit(1)).as("n"), min("cents").as("lo"),
          max("cents").as("hi"))
    }),

    // Benford first-digit audit over order totals — the fraud/data-
    // quality screen for "does this money column look organic". One
    // narrow digit extraction + a 9-group aggregate (map-side combine
    // does nearly all the work; the exchange carries ≤9 rows/task at
    // any scale). Expected Benford masses are fixed round(log10(1 +
    // 1/d)·1e6) ppm literals — identical constants on both engines —
    // and the observed shares use exact integer division, so the
    // whole audit is bit-exact with zero float aggregation.
    "qE3_benford" -> ((s, dir) => {
      val expPpm = Seq(301030L, 176091L, 124939L, 96910L, 79181L,
        66947L, 57992L, 51153L, 45757L)
      val obs = table(s, dir, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
        .groupBy("digit").agg(count(lit(1)).as("obs"))
      // r16 (guide §2.4): the crossJoined obs.agg total re-ran the
      // full orders digit pass; window over the ≤9-row digit frame.
      obs.withColumn("n", sum(col("obs")).over(Window.partitionBy()))
        .withColumn("exp_ppm", element_at(
          array(expPpm.map(lit): _*), col("digit")))
        // decimal numerator: obs·1e6 wraps int64 past ~9.2e12 orders;
        // the ppm quotient is ≤ 1e6 and stays BIGINT
        .withColumn("obs_ppm",
          expr("(CAST(obs AS DECIMAL(38,0)) * 1000000) div n"))
        .withColumn("delta_ppm", col("obs_ppm") - col("exp_ppm"))
    }),

    // Bloom-filtered join reduction (the runtime-filter / sideways-
    // information-passing pattern): a selective dimension's keys are
    // sketched into a 32 KiB Bloom filter, and the FACT side is
    // probed through the literal bits BEFORE its shuffle — ~3/4 of
    // lineitem never enters the exchange, which at 100 TB is the
    // difference between shuffling the table and shuffling the
    // match. False positives are harmless: the exact join behind the
    // probe removes them, so the result is bit-identical to the
    // plain join the oracle runs — the probe is pure plan surgery.
    // (Build-once/probe-as-literal is the q84 discipline: a joined
    // bits column would memcpy 32 KiB per probe row.)
    "qEA_bloom_join" -> ((s, dir) => {
      val m = 1 << 18
      val sel = table(s, dir, "orders")
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_orderdate"))
      val bits = sel.agg(graft.functions.BloomFilter.build(
          col("o_orderkey").cast("string"), m).as("bits"))
        .collect()(0).getAs[Array[Byte]]("bits")
      table(s, dir, "lineitem")
        .select(col("l_orderkey"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"))
        .filter(graft.functions.BloomFilter.mightContain(
          lit(bits), col("l_orderkey").cast("string"), m))
        .join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(date_format(col("o_orderdate"), "yyyy-MM").as("month"))
        .agg(count(lit(1)).as("n_items"), sum("cents").as("revenue_cents"))
    }),

    // Manually salted SKEW JOIN: when the join key is hot (here the
    // 3-value returnflag — at 100 TB a sort-merge join on it funnels
    // a third of the table through ONE reducer), replicate the small
    // side across 8 salt shards and join on (key, salt) — every hot
    // key spreads over 8 reducers, deterministically (salt = orderkey
    // % 8, not rand()). This is the join-side twin of Skew.saltedSum,
    // and the manual form of what AQE's skew-join split does at
    // runtime; the shuffle_hash hint pins the shuffled-join scenario
    // the salt exists for (a broadcast dim would dodge the skew —
    // and also the demonstration). Oracle = the unsalted join.
    "qEB_salted_join" -> ((s, dir) => {
      val salts = 8
      val li = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          round(col("l_extendedprice") * 100).cast("long").as("cents"),
          pmod(col("l_orderkey"), lit(salts.toLong)).as("salt"))
      val dim = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag")).distinct()
        .withColumn("flag_label", concat(lit("F_"), col("flag")))
        .withColumn("salt",
          explode(array((0 until salts).map(i => lit(i.toLong)): _*)))
      li.join(dim.hint("shuffle_hash"), Seq("flag", "salt"))
        .groupBy("flag_label")
        .agg(count(lit(1)).as("n"), sum("cents").as("sum_cents"))
    })
  )

  def oracles: Map[String, String] = Map(
    // same one-pass conditional sums (NULL = violation), unpivoted
    "q10E_data_contract" ->
      """WITH a AS (
           SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(sum(CASE WHEN l_quantity BETWEEN 1 AND 50
                           THEN 0 ELSE 1 END) AS BIGINT) AS v1,
             CAST(sum(CASE WHEN l_discount BETWEEN 0 AND 0.1
                           THEN 0 ELSE 1 END) AS BIGINT) AS v2,
             CAST(sum(CASE WHEN l_extendedprice > 0
                           THEN 0 ELSE 1 END) AS BIGINT) AS v3,
             CAST(sum(CASE WHEN l_tax >= 0 THEN 0 ELSE 1 END) AS BIGINT) AS v4,
             CAST(sum(CASE WHEN l_orderkey IS NOT NULL
                            AND l_partkey IS NOT NULL
                           THEN 0 ELSE 1 END) AS BIGINT) AS v5,
             CAST(sum(CASE WHEN l_returnflag IN ('A', 'N', 'R')
                           THEN 0 ELSE 1 END) AS BIGINT) AS v6
           FROM lineitem)
         SELECT u.rule, n_rows, u.violations, u.violations = 0 AS pass
         FROM a, unnest([
           struct_pack(rule := 'quantity_in_1_50', violations := v1),
           struct_pack(rule := 'discount_in_0_01', violations := v2),
           struct_pack(rule := 'price_positive', violations := v3),
           struct_pack(rule := 'tax_nonnegative', violations := v4),
           struct_pack(rule := 'keys_not_null', violations := v5),
           struct_pack(rule := 'returnflag_domain', violations := v6)
         ]) AS t(u)""",

    // same md5 bucket map, same broadcast totals
    "q109_bucket_skew" ->
      """WITH b AS (
           SELECT CAST(('0x' || substr(md5(CAST(l_orderkey AS VARCHAR) || '|'
                 || CAST(l_linenumber AS VARCHAR)), 1, 15)) AS BIGINT) % 32
             AS bucket
           FROM lineitem),
         per AS (
           SELECT bucket, CAST(count(*) AS BIGINT) AS n
           FROM b GROUP BY bucket),
         t AS (
           SELECT CAST(sum(n) AS BIGINT) AS t, CAST(max(n) AS BIGINT) AS mx
           FROM per)
         SELECT bucket, n,
           CAST(n AS DOUBLE) * 32.0 / CAST(t AS DOUBLE) AS load_factor,
           CAST(mx AS DOUBLE) * 32.0 / CAST(t AS DOUBLE) AS max_load
         FROM per, t""",

    // same collapsed count table, same quadrupled-cum integer
    // threshold per percentile
    "q10A_grouped_percentiles" ->
      """WITH m AS (
           SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS qty,
             CAST(count(*) AS BIGINT) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (
           SELECT flag, qty,
             CAST(sum(w) OVER (PARTITION BY flag ORDER BY qty ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
           FROM m),
         ps AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS p),
         f AS (
           SELECT flag, p, min(qty) AS qty_at_p
           FROM c, ps WHERE 4 * cum >= p * tot
           GROUP BY flag, p)
         SELECT flag, CAST(p * 25 AS BIGINT) AS pct, qty_at_p
         FROM f""",

    // same collapsed (flag, qty) mass table; window sums leave
    // HUGEINT before the doubled-cum comparison
    "q100_weighted_median" ->
      """WITH m AS (
           SELECT l_returnflag AS flag, CAST(l_quantity AS BIGINT) AS qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS w
           FROM lineitem GROUP BY 1, 2),
         c AS (
           SELECT flag, qty,
             CAST(sum(w) OVER (PARTITION BY flag ORDER BY qty ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(w) OVER (PARTITION BY flag) AS BIGINT) AS tot
           FROM m),
         f AS (SELECT * FROM c WHERE 2 * cum >= tot),
         r AS (
           SELECT flag, qty, cum, tot,
             row_number() OVER (PARTITION BY flag ORDER BY qty ASC) AS rn
           FROM f)
         SELECT flag, qty AS median_qty, cum AS cum_at_median, tot AS total_w
         FROM r WHERE rn = 1""",

    // same seven edges, NOT EXISTS mirrors the left anti
    "qF8_ri_audit" ->
      """SELECT 'lineitem->orders' AS edge,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem) AS child_rows,
           (SELECT CAST(count(*) AS BIGINT) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM orders o
                              WHERE o.o_orderkey = l.l_orderkey)) AS orphans
         UNION ALL
         SELECT 'lineitem->part',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM part p
                              WHERE p.p_partkey = l.l_partkey))
         UNION ALL
         SELECT 'lineitem->supplier',
           (SELECT count(*) FROM lineitem),
           (SELECT count(*) FROM lineitem l
            WHERE NOT EXISTS (SELECT 1 FROM supplier s
                              WHERE s.s_suppkey = l.l_suppkey))
         UNION ALL
         SELECT 'orders->customer',
           (SELECT count(*) FROM orders),
           (SELECT count(*) FROM orders o
            WHERE NOT EXISTS (SELECT 1 FROM customer c
                              WHERE c.c_custkey = o.o_custkey))
         UNION ALL
         SELECT 'customer->nation',
           (SELECT count(*) FROM customer),
           (SELECT count(*) FROM customer c
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = c.c_nationkey))
         UNION ALL
         SELECT 'supplier->nation',
           (SELECT count(*) FROM supplier),
           (SELECT count(*) FROM supplier s
            WHERE NOT EXISTS (SELECT 1 FROM nation n
                              WHERE n.n_nationkey = s.s_nationkey))
         UNION ALL
         SELECT 'nation->region',
           (SELECT count(*) FROM nation),
           (SELECT count(*) FROM nation n
            WHERE NOT EXISTS (SELECT 1 FROM region r
                              WHERE r.r_regionkey = n.n_regionkey))""",

    // distinct-first then ordered string_agg mirrors the sorted
    // collect_set join
    "qEF_string_rollup" ->
      """WITH d AS (
           SELECT DISTINCT o_orderstatus, o_orderpriority
           FROM orders),
         m AS (
           SELECT o_orderstatus,
             string_agg(o_orderpriority, ',' ORDER BY o_orderpriority) AS prios,
             CAST(count(*) AS BIGINT) AS n_prios
           FROM d GROUP BY o_orderstatus),
         c AS (
           SELECT o_orderstatus, CAST(count(*) AS BIGINT) AS n_rows
           FROM orders GROUP BY o_orderstatus)
         SELECT o_orderstatus, prios, n_prios, n_rows
         FROM m JOIN c USING (o_orderstatus)""",

    "q16_window_running" ->
      """SELECT o_custkey, o_orderkey,
           CAST(rank() OVER w AS INTEGER) AS rnk,
           CAST(dense_rank() OVER w AS INTEGER) AS drnk,
           COALESCE(lag(o_orderkey, 1) OVER w, -1) AS prev_order,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
             ORDER BY o_orderdate ASC, o_orderkey ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) * 100) / 100 AS running_spend
         FROM orders
         WHERE o_custkey < 200
         WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate ASC, o_orderkey ASC)""",

    "q17_cube" ->
      """SELECT COALESCE(l_returnflag, 'ALL') AS l_returnflag,
           COALESCE(l_linestatus, 'ALL') AS l_linestatus,
           count(*) AS n,
           CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
         FROM lineitem GROUP BY CUBE(l_returnflag, l_linestatus)""",

    "q18_asof_join" ->
      """WITH clicks AS (
           SELECT user_id, ts, event_id FROM events WHERE event_type = 'click'),
         purchases AS (
           SELECT user_id, ts FROM events WHERE event_type = 'purchase')
         SELECT user_id, count(*) AS n_clicks,
           count(p_ts) AS n_attributed,
           max(p_ts) AS last_attr_ts
         FROM (
           SELECT c.user_id, c.event_id, p.ts AS p_ts
           FROM clicks c ASOF LEFT JOIN purchases p
             ON c.user_id = p.user_id AND p.ts <= c.ts) t
         GROUP BY user_id""",

    "q1F_window_dist" ->
      """SELECT o_orderpriority, o_orderkey,
           CAST(ntile(4) OVER w AS INTEGER) AS quartile,
           percent_rank() OVER w AS prank,
           cume_dist() OVER w AS cdist
         FROM orders
         WHERE o_custkey < 100
         WINDOW w AS (PARTITION BY o_orderpriority
                      ORDER BY o_totalprice ASC, o_orderkey ASC)""",

    "q1G_collect" ->
      """SELECT l_returnflag,
           array_to_string(list_sort(list(DISTINCT l_linestatus)), ',') AS statuses,
           CAST(len(list_sort(list(DISTINCT CAST(l_shipdate AS DATE)))) AS INTEGER) AS n_dates
         FROM lineitem GROUP BY l_returnflag""",

    "q1E_correlated" ->
      """WITH o AS (SELECT o_orderpriority, o_orderkey,
                      CAST(round(o_totalprice * 100) AS BIGINT) AS cents
                    FROM orders)
         SELECT o_orderpriority, count(*) AS n_pricey, max(o_orderkey) AS max_key
         FROM o a
         WHERE CAST(a.cents AS HUGEINT) * 2 * (SELECT count(*) FROM o b WHERE b.o_orderpriority = a.o_orderpriority)
               > (SELECT sum(CAST(cents AS HUGEINT)) FROM o b WHERE b.o_orderpriority = a.o_orderpriority) * 3
         GROUP BY o_orderpriority""",

    "q1C_percentiles" ->
      """SELECT l_returnflag,
           quantile_cont(l_quantity, 0.25) AS p25,
           quantile_cont(l_quantity, 0.5) AS p50,
           quantile_cont(l_quantity, 0.75) AS p75
         FROM lineitem GROUP BY l_returnflag""",

    // same collapse-then-window construction, same strict dominance
    "qD1_pareto_frontier" ->
      """WITH pq AS (
           SELECT CAST(l_quantity AS BIGINT) AS qty,
             CAST(min(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS best_cents,
             count(*) AS n_lines
           FROM lineitem GROUP BY 1),
         f AS (
           SELECT qty, best_cents, n_lines,
             min(best_cents) OVER (ORDER BY qty DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS min_above
           FROM pq)
         SELECT qty, best_cents, n_lines
         FROM f WHERE min_above IS NULL OR best_cents < min_above""",

    // the oracle proves the bitmap path against plain distinct set
    // algebra — same answer, different plan
    "qDE_bitmap_intersect" ->
      """WITH d AS (
           SELECT DISTINCT l_returnflag AS flag, l_partkey AS pk FROM lineitem),
         card AS (SELECT flag, count(*) AS cd FROM d GROUP BY flag),
         inter AS (
           SELECT a.flag AS f1, b.flag AS f2, count(*) AS n_inter
           FROM d a JOIN d b ON a.pk = b.pk AND a.flag < b.flag
           GROUP BY 1, 2)
         SELECT f1, f2, c1.cd AS d1, c2.cd AS d2, n_inter
         FROM inter
         JOIN card c1 ON c1.flag = f1
         JOIN card c2 ON c2.flag = f2""",

    // same prune thresholds, same fixed-order lift assembly
    "qDB_frequent_pairs" ->
      """WITH b AS (
           SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem),
         item AS (
           SELECT pk, count(*) AS n FROM b GROUP BY pk HAVING count(*) >= 5),
         pruned AS (SELECT ok, pk FROM b WHERE pk IN (SELECT pk FROM item)),
         pr AS (
           SELECT a.pk AS pk1, c.pk AS pk2, count(*) AS n_pair
           FROM pruned a JOIN pruned c ON a.ok = c.ok AND a.pk < c.pk
           GROUP BY 1, 2 HAVING count(*) >= 2),
         tot AS (SELECT count(DISTINCT ok) AS n_orders FROM b)
         SELECT pk1, pk2, n_pair, i1.n AS n1, i2.n AS n2,
           CAST(n_pair AS DOUBLE) * n_orders
             / (CAST(i1.n AS DOUBLE) * i2.n) AS lift
         FROM pr
         JOIN item i1 ON i1.pk = pk1
         JOIN item i2 ON i2.pk = pk2, tot""",

    // exact spine only (per-flag distinct + pairwise intersection
    // over distinct pairs); the KMV verdicts hash as constant true
    "qDA_kmv_overlap" ->
      """WITH d AS (
           SELECT DISTINCT l_returnflag AS flag, l_partkey AS pk FROM lineitem),
         card AS (SELECT flag, count(*) AS cd FROM d GROUP BY flag),
         inter AS (
           SELECT a.flag AS f1, b.flag AS f2, count(*) AS exact_inter
           FROM d a JOIN d b ON a.pk = b.pk AND a.flag < b.flag
           GROUP BY 1, 2)
         SELECT f1, f2, c1.cd AS d1, c2.cd AS d2, exact_inter,
           c1.cd + c2.cd - exact_inter AS exact_union,
           true AS ok_union, true AS ok_inter
         FROM inter
         JOIN card c1 ON c1.flag = f1
         JOIN card c2 ON c2.flag = f2""",

    // exact spine only; the sketch verdicts hash as constant true
    // (see the Spark-side comment for the bound construction)
    "qCD_dd_quantiles" ->
      """WITH li AS (
           SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem)
         SELECT flag, count(*) AS n,
           quantile_cont(cents, 0.5) AS p50,
           quantile_cont(cents, 0.95) AS p95,
           quantile_cont(cents, 0.99) AS p99,
           true AS ok50, true AS ok95, true AS ok99
         FROM li GROUP BY flag""",

    // same two-phase shape: exact percentile bounds, exact integer
    // tail counts/mid sum, identical final fixed-order float assembly
    "qCC_winsorized" ->
      """WITH li AS (
           SELECT l_returnflag AS flag,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS cents
           FROM lineitem),
         p AS (
           SELECT flag, quantile_cont(cents, 0.05) AS p05,
             quantile_cont(cents, 0.95) AS p95
           FROM li GROUP BY flag),
         a AS (
           SELECT li.flag, count(*) AS n,
             CAST(sum(CASE WHEN cents < p05 THEN 1 ELSE 0 END) AS BIGINT) AS n_low,
             CAST(sum(CASE WHEN cents > p95 THEN 1 ELSE 0 END) AS BIGINT) AS n_high,
             CAST(sum(CASE WHEN cents >= p05 AND cents <= p95 THEN cents ELSE 0 END)
               AS BIGINT) AS mid_sum,
             any_value(p05) AS p05, any_value(p95) AS p95
           FROM li JOIN p USING (flag) GROUP BY li.flag)
         SELECT flag, n, n_low, n_high, mid_sum, p05, p95,
           (CAST(mid_sum AS DOUBLE)
             + CAST(n_low AS DOUBLE) * p05
             + CAST(n_high AS DOUBLE) * p95) / CAST(n AS DOUBLE) AS wins_mean
         FROM a""",

    "q1D_string_funcs" ->
      """SELECT p_partkey,
           upper(p_name) AS uname,
           CAST(strlen(p_name) AS INTEGER) AS nlen,
           substring(p_name, 1, 5) AS prefix,
           reverse(p_name) AS rname,
           CAST(levenshtein(p_name, p_type) AS INTEGER) AS edit_dist,
           translate(p_name, 'aeiou', 'AEIOU') AS tname
         FROM part""",

    // the exact spine hash-checks; within_bound is the sketch's 3σ
    // error-bound verdict, which must be constant true
    "q1A_approx_distinct" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           true AS within_bound
         FROM lineitem GROUP BY l_returnflag""",

    "q90_unpivot" ->
      """WITH wide AS (
           SELECT l_returnflag,
             CAST(sum(CAST(round(l_quantity * 100) AS BIGINT)) AS BIGINT) AS qty_cents,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS price_cents,
             CAST(sum(CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT) AS disc_cents
           FROM lineitem GROUP BY l_returnflag)
         SELECT l_returnflag, 'qty_cents' AS measure, qty_cents AS cents FROM wide
         UNION ALL
         SELECT l_returnflag, 'price_cents', price_cents FROM wide
         UNION ALL
         SELECT l_returnflag, 'disc_cents', disc_cents FROM wide""",

    "q91_nullsafe_join" ->
      """WITH side AS (
           SELECT CASE WHEN o_orderstatus <> 'O' THEN o_orderstatus END AS k,
             CAST(count(*) AS BIGINT) AS n
           FROM orders GROUP BY 1)
         SELECT l.k, l.n AS n_left, r.n AS n_right
         FROM side l JOIN side r ON l.k IS NOT DISTINCT FROM r.k""",

    "q95_hll_reaggregate" ->
      """SELECT l_returnflag,
           count(DISTINCT l_partkey) AS exact_parts,
           true AS within_bound
         FROM lineitem GROUP BY l_returnflag""",

    "q92_approx_quantile" ->
      """SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           quantile_cont(l_extendedprice, 0.5) AS exact_p50,
           true AS within_bound
         FROM lineitem GROUP BY l_returnflag""",

    "q1B_salted_agg" ->
      """SELECT l_returnflag,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT) AS sum_cents
         FROM lineitem GROUP BY l_returnflag""",

    "q19_range_join" ->
      """WITH dim(lo, hi, band) AS (
           VALUES (0.0, 50.0, 'low'), (50.0, 150.0, 'mid'), (150.0, 1e9, 'high'))
         SELECT band, event_type, count(*) AS n,
           CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) / 100.0 AS sum_value
         FROM events JOIN dim ON value >= lo AND value < hi
         GROUP BY band, event_type""",

    // range(lo, hi+1) mirrors Spark's inclusive sequence(lo, hi);
    // sums cast back to BIGINT (DuckDB sum(BIGINT) is HUGEINT)
    "q96_gap_fill" ->
      """WITH o AS (
           SELECT o_custkey,
             CAST(year(o_orderdate) * 12 + month(o_orderdate) - 1 AS BIGINT) AS ym,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders WHERE o_custkey < 50),
         monthly AS (
           SELECT o_custkey, ym, CAST(sum(cents) AS BIGINT) AS paid_cents
           FROM o GROUP BY 1, 2),
         span AS (SELECT min(ym) AS lo, max(ym) AS hi FROM o),
         spine AS (
           SELECT c.o_custkey, unnest(range(sp.lo, sp.hi + 1)) AS ym
           FROM (SELECT DISTINCT o_custkey FROM o) c CROSS JOIN span sp),
         j AS (
           SELECT s.o_custkey, s.ym, m.paid_cents,
             count(m.paid_cents) OVER (PARTITION BY s.o_custkey ORDER BY s.ym
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
           FROM spine s LEFT JOIN monthly m
             ON s.o_custkey = m.o_custkey AND s.ym = m.ym)
         SELECT o_custkey, ym, paid_cents,
           max(paid_cents) OVER (PARTITION BY o_custkey, grp) AS filled_cents
         FROM j""",

    "q97_scd2_intervals" ->
      """SELECT user_id, event_id, event_type,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           CAST(row_number() OVER w AS BIGINT) AS version,
           (lead(ts) OVER w IS NULL) AS is_current
         FROM events WHERE user_id < 50
         WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)""",

    // window idiom as the oracle; (ts, event_id) is unique so both
    // orderings pick the same record
    "q99_changelog_compact" ->
      """SELECT user_id, event_type AS last_type, value AS last_value,
           ts AS last_ts, n_events
         FROM (SELECT user_id, event_type, value, ts,
                 row_number() OVER (PARTITION BY user_id
                   ORDER BY ts DESC, event_id DESC) AS rn,
                 CAST(count(*) OVER (PARTITION BY user_id) AS BIGINT) AS n_events
               FROM events)
         WHERE rn = 1""",

    // quantile_cont of BIGINTs interpolates to exact .0/.5 doubles,
    // matching Spark's percentile() bit-for-bit
    "q9B_robust_outliers" ->
      """WITH o AS (
           SELECT o_orderpriority AS prio,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         med AS (
           SELECT prio, quantile_cont(cents, 0.5) AS med,
             CAST(count(*) AS BIGINT) AS n
           FROM o GROUP BY prio),
         dev AS (
           SELECT o.prio, abs(cents - med) AS dev, med, n
           FROM o JOIN med USING (prio)),
         mad AS (SELECT prio, quantile_cont(dev, 0.5) AS mad
                 FROM dev GROUP BY prio)
         SELECT d.prio, max(n) AS n, max(med) AS med, max(mad) AS mad,
           CAST(sum(CASE WHEN dev > 3 * mad THEN 1 ELSE 0 END) AS BIGINT)
             AS n_outliers
         FROM dev d JOIN mad USING (prio) GROUP BY d.prio""",

    "q9C_skew_profile" ->
      """WITH kc AS (
           SELECT event_type, user_id, CAST(count(*) AS BIGINT) AS c
           FROM events GROUP BY 1, 2)
         SELECT event_type, n_rows, n_keys, max_cnt, user_id AS top_key,
           CAST(max_cnt * n_keys AS DOUBLE) / n_rows AS skew
         FROM (SELECT event_type, user_id, c,
                 row_number() OVER (PARTITION BY event_type
                   ORDER BY c DESC, user_id ASC) AS rn,
                 CAST(sum(c) OVER (PARTITION BY event_type) AS BIGINT) AS n_rows,
                 CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_keys,
                 max(c) OVER (PARTITION BY event_type) AS max_cnt
               FROM kc)
         WHERE rn = 1""",

    // one wide agg CTE, six UNION ALL projections — numeric min/max
    // before the VARCHAR render, cents for the double, yyyy-MM-dd for
    // the timestamp, all matching the Spark side's stack() rows
    "qA2_column_profile" ->
      """WITH a AS (
           SELECT CAST(count(*) AS BIGINT) AS n_rows,
             CAST(count(o_orderkey) AS BIGINT) AS nn1,
             CAST(count(DISTINCT o_orderkey) AS BIGINT) AS nd1,
             CAST(min(o_orderkey) AS VARCHAR) AS mn1,
             CAST(max(o_orderkey) AS VARCHAR) AS mx1,
             CAST(count(o_custkey) AS BIGINT) AS nn2,
             CAST(count(DISTINCT o_custkey) AS BIGINT) AS nd2,
             CAST(min(o_custkey) AS VARCHAR) AS mn2,
             CAST(max(o_custkey) AS VARCHAR) AS mx2,
             CAST(count(o_orderstatus) AS BIGINT) AS nn3,
             CAST(count(DISTINCT o_orderstatus) AS BIGINT) AS nd3,
             min(o_orderstatus) AS mn3, max(o_orderstatus) AS mx3,
             CAST(count(o_orderpriority) AS BIGINT) AS nn4,
             CAST(count(DISTINCT o_orderpriority) AS BIGINT) AS nd4,
             min(o_orderpriority) AS mn4, max(o_orderpriority) AS mx4,
             CAST(count(o_orderdate) AS BIGINT) AS nn5,
             CAST(count(DISTINCT o_orderdate) AS BIGINT) AS nd5,
             strftime(min(o_orderdate), '%Y-%m-%d') AS mn5,
             strftime(max(o_orderdate), '%Y-%m-%d') AS mx5,
             CAST(count(o_totalprice) AS BIGINT) AS nn6,
             CAST(count(DISTINCT CAST(floor(o_totalprice * 100.0e0) AS BIGINT)) AS BIGINT) AS nd6,
             CAST(CAST(min(floor(o_totalprice * 100.0e0)) AS BIGINT) AS VARCHAR) AS mn6,
             CAST(CAST(max(floor(o_totalprice * 100.0e0)) AS BIGINT) AS VARCHAR) AS mx6
           FROM orders)
         SELECT 'o_orderkey' AS col_name, n_rows, n_rows - nn1 AS n_nulls,
           nd1 AS n_distinct, mn1 AS min_s, mx1 AS max_s FROM a
         UNION ALL SELECT 'o_custkey', n_rows, n_rows - nn2, nd2, mn2, mx2 FROM a
         UNION ALL SELECT 'o_orderstatus', n_rows, n_rows - nn3, nd3, mn3, mx3 FROM a
         UNION ALL SELECT 'o_orderpriority', n_rows, n_rows - nn4, nd4, mn4, mx4 FROM a
         UNION ALL SELECT 'o_orderdate', n_rows, n_rows - nn5, nd5, mn5, mx5 FROM a
         UNION ALL SELECT 'o_totalprice_cents', n_rows, n_rows - nn6, nd6, mn6, mx6 FROM a""",

    // same integer day index (epoch-seconds div 86400) and RANGE
    // frame; DuckDB's RANGE over an integer ORDER BY key matches
    // Spark's rangeBetween semantics (value distance, peer-inclusive)
    "qAA_range_frame" ->
      """WITH o AS (
           SELECT o_orderkey, o_custkey,
             CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day_idx,
             CAST(floor(o_totalprice * 100.0e0) AS BIGINT) AS cents
           FROM orders)
         SELECT o_orderkey, o_custkey, day_idx, cents,
           CAST(sum(cents) OVER w AS BIGINT) AS trail7_cents,
           CAST(count(*) OVER w AS BIGINT) AS trail7_orders
         FROM o
         WINDOW w AS (PARTITION BY o_custkey ORDER BY day_idx
           RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)""",

    // same total order; full-frame first/last/nth, default-frame
    // lag/lead (offset functions ignore frames in both engines)
    "qAC_window_nav" ->
      """WITH o AS (
           SELECT o_orderkey, o_custkey,
             CAST(epoch(o_orderdate) // 86400 AS BIGINT) AS day_idx,
             CAST(floor(o_totalprice * 100.0e0) AS BIGINT) AS cents
           FROM orders)
         SELECT o_orderkey, o_custkey, day_idx, cents,
           first_value(cents) OVER f AS first_cents,
           last_value(cents) OVER f AS last_cents,
           nth_value(cents, 2) OVER f AS second_cents,
           day_idx - lag(day_idx, 1) OVER w AS days_since_prev,
           lead(day_idx, 1) OVER w - day_idx AS days_to_next
         FROM o
         WINDOW w AS (PARTITION BY o_custkey ORDER BY day_idx, o_orderkey),
           f AS (PARTITION BY o_custkey ORDER BY day_idx, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)""",

    // HUGEINT sums are exact like Spark's decimal(38,0); every float
    // is the same cast/divide sequence on the same exact integers
    "qB3_group_regression" ->
      """WITH xy AS (
           SELECT l_returnflag,
             CAST(l_quantity AS BIGINT) AS x,
             CAST(round(l_extendedprice * 100) AS BIGINT) AS y
           FROM lineitem),
         m AS (
           SELECT l_returnflag, count(*) AS n,
             sum(x) AS sx, sum(y) AS sy, sum(x * y) AS sxy,
             sum(x * x) AS sxx, sum(y * y) AS syy
           FROM xy GROUP BY l_returnflag),
         d AS (
           SELECT l_returnflag, n,
             CAST(n * sxy - sx * sy AS DOUBLE) AS numd,
             CAST(n * sxx - sx * sx AS DOUBLE) AS dend,
             CAST(n * syy - sy * sy AS DOUBLE) AS denyd,
             CAST(sx AS DOUBLE) AS sxd, CAST(sy AS DOUBLE) AS syd
           FROM m)
         SELECT l_returnflag, n,
           numd / dend AS slope,
           (syd - (numd / dend) * sxd) / n AS intercept,
           numd * numd / (dend * denyd) AS r2
         FROM d""",

    "qB6_lateral_topk" ->
      """SELECT n.n_name, c.c_name, c.c_acctbal
         FROM nation n,
         LATERAL (SELECT c_name, c_acctbal FROM customer
                  WHERE c_nationkey = n.n_nationkey
                  ORDER BY c_acctbal DESC, c_name ASC LIMIT 2) c""",

    "qB7_recursive_cte" ->
      """WITH RECURSIVE reach(node, hop) AS (
           SELECT CAST(2 AS BIGINT) AS node, 0 AS hop
           UNION ALL
           SELECT e.dst, r.hop + 1
           FROM reach r
           JOIN (SELECT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                 WHERE o_custkey < 500
                 UNION
                 SELECT l_suppkey * 2 + 1 AS src, o_custkey * 2 AS dst
                 FROM orders JOIN lineitem ON l_orderkey = o_orderkey
                 WHERE o_custkey < 500) e
             ON e.src = r.node
           WHERE r.hop < 3)
         SELECT node, CAST(min(hop) AS INTEGER) AS min_hops
         FROM reach GROUP BY node""",

    // window SUM is HUGEINT in DuckDB — cast before the divisions
    "qC8_ratio_to_report" ->
      """WITH o AS (
           SELECT o_orderkey, o_orderpriority,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         t AS (
           SELECT o_orderkey, o_orderpriority, cents,
             CAST(sum(cents) OVER (PARTITION BY o_orderpriority)
                  AS BIGINT) AS class_cents
           FROM o)
         SELECT o_orderkey, o_orderpriority, cents, class_cents,
           cents * 1000000 // class_cents AS share_ppm,
           CAST(cents AS DOUBLE) / class_cents AS share
         FROM t""",

    // the function bodies hand-inlined; identical double sequence
    // p*(1-d)*100 then round
    "qC0_sql_udf" ->
      """SELECT count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * (1 - l_discount) * 100)
                    AS BIGINT)) AS BIGINT) AS revenue_cents,
           CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty
         FROM lineitem WHERE l_returnflag = 'R'""",

    "qBA_pipe_syntax" ->
      """SELECT l_returnflag, l_linestatus, n, qty, cents FROM (
           SELECT l_returnflag, l_linestatus, count(*) AS n,
             CAST(sum(CAST(l_quantity AS BIGINT)) AS BIGINT) AS qty,
             CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
               AS cents
           FROM lineitem
           WHERE l_quantity >= 10
           GROUP BY l_returnflag, l_linestatus) t
         WHERE n > 50""",

    // the naive global ntile the engine's distributed-rank form must
    // reproduce exactly (ntile is BIGINT in DuckDB; Spark's is cast)
    "qE2_equidepth_hist" ->
      """WITH li AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             l_orderkey, l_linenumber
           FROM lineitem),
         t AS (
           SELECT cents,
             ntile(8) OVER (ORDER BY cents, l_orderkey, l_linenumber)
               AS bucket
           FROM li)
         SELECT bucket, count(*) AS n, min(cents) AS lo, max(cents) AS hi
         FROM t GROUP BY bucket""",

    // same ppm literals, same integer division
    "qE3_benford" ->
      """WITH d AS (
           SELECT CAST(substr(CAST(CAST(round(o_totalprice * 100) AS BIGINT)
               AS VARCHAR), 1, 1) AS INTEGER) AS digit
           FROM orders),
         o AS (SELECT digit, count(*) AS obs FROM d GROUP BY digit),
         t AS (SELECT CAST(sum(obs) AS BIGINT) AS n FROM o),
         e(digit, exp_ppm) AS (VALUES
           (1, CAST(301030 AS BIGINT)), (2, 176091), (3, 124939),
           (4, 96910), (5, 79181), (6, 66947), (7, 57992), (8, 51153),
           (9, 45757))
         SELECT o.digit, obs, n, e.exp_ppm,
           CAST((CAST(obs AS HUGEINT) * 1000000) // n AS BIGINT) AS obs_ppm,
           CAST((CAST(obs AS HUGEINT) * 1000000) // n - e.exp_ppm AS BIGINT)
             AS delta_ppm
         FROM o JOIN e ON e.digit = o.digit, t""",

    // the PLAIN join — the bloom probe must be invisible in the result
    "qEA_bloom_join" ->
      """SELECT substr(CAST(o_orderdate AS VARCHAR), 1, 7) AS month,
           count(*) AS n_items,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS revenue_cents
         FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         WHERE o_orderpriority = '1-URGENT'
         GROUP BY 1""",

    // the UNsalted join: dim is the distinct flags of the same table,
    // so the join is an identity — the salt must collapse exactly
    "qEB_salted_join" ->
      """SELECT 'F_' || l_returnflag AS flag_label, count(*) AS n,
           CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
             AS sum_cents
         FROM lineitem GROUP BY 1"""
  )
}
