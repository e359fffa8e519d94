package graft.plans

import org.apache.spark.sql.execution.FileSourceScanExec
import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
import org.apache.spark.sql.execution.joins.CartesianProductExec

import graft.{SparkEntry, SparkSpec}

/** Plan-regression gate (round 8): PLANS.md is regenerated by hand,
  * so nothing used to fail if a query silently gained an exchange or
  * lost a pushed parquet filter. This spec pins the PlanAudit counts
  * (shuffle exchanges, parquet scans, scans with pushed filters) for
  * the heaviest + most recently rewritten queries against committed
  * expectations, under the same config PlanAudit uses (AQE initial
  * plan, 4 shuffle partitions) — red on ANY drift, in either
  * direction: a new exchange is a scale regression, a vanished one
  * means the committed envelope is stale and must be re-pinned
  * deliberately. Codegen-span counts are NOT pinned (they shift with
  * Spark-internal fusion decisions, not with our plan shape).
  *
  * Queries whose constructor materializes through CheckpointStrategy
  * (qA3's PageRank edge pin; DistributedRank's ranked partitions in
  * qA9, qE2 and q108) report 0 scans — the pin severs the plan at the
  * materialization boundary; their scan discipline is audited
  * upstream of the pin and their exchange count still covers the
  * post-pin shape.
  */
class PlanRegressionSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"

  // (exchanges, scans, scansWithPushedFilters) per PLANS.md @ sf0.001
  private val expected: Map[String, (Int, Int, Int)] = Map(
    "q105_skipgram_cooc" -> ((2, 1, 0)),
    // the per-user agg is no longer pinned: its events scan and
    // exchange join the plan (noop warm median sf0.1: 3.01 → 2.90 s)
    "q106_rfm_segmentation" -> ((12, 2, 1)),
    "q108_zipf_slope" -> ((4, 0, 0)),
    "q111_join_fanout_audit" -> ((3, 2, 2)),
    "q113_hybrid_rrf" -> ((0, 6, 6)),
    // round 8: q11B reads the STAGED co-order edge parquet (shared
    // with qB2/qE8) instead of a per-query localCheckpoint — the 5
    // scans are re-reads of that small materialized pair list (2×
    // neighbor build used twice + 1 anti-join side), not lineitem,
    // and every one gets the join-side IsNotNull pushed to the reader
    // round 15 (opt): +1 exchange — Spread.fanout's pinned-width
    // repartition ahead of the C(deg,2) wedge explode, which AQE had
    // coalesced into ONE task (3.4 s of the 4.0 s query); measured
    // 4.0 → 2.0 s warm at sf0.1
    "q11B_adamic_adar" -> ((4, 5, 5)),
    // round 15 (opt): 3 → 2 scans — Spread.scan's repartition ahead
    // of the token explode is REUSED by both aggregate consumers
    // (ReusedExchange), so the second documents scan disappears;
    // measured 1.7 → 0.8 s warm at sf0.1
    "q123_heaps_law" -> ((8, 2, 0)),
    "q124_caliper_match" -> ((3, 2, 2)),
    // round 16 (opt): 11 → 5 exchanges — the top-20 normalizer used
    // to be auth2.agg(max) crossJoined back, which made auth2 a
    // two-consumer frame and DUPLICATED the whole HITS join/agg tree
    // (6 of the 11 exchanges were the second copy). The max now
    // rides a 20-row post-limit window, auth2 has one consumer.
    // the edge list is no longer pinned: its build (scans, join,
    // distinct) is part of the plan for both auth consumers (noop warm
    // median sf0.1: 2.29 → 2.37 s)
    "q12A_hits" -> ((10, 4, 4)),
    // the candidate scan is spread (it streams the broadcast
    // nested-loop join) and DCG, IDCG and the first relevant rank
    // share one ranked pass: 5 → 4 exchanges, 5 → 3 scans (noop warm
    // median sf0.1: 5.15 → 1.59 s)
    "q12E_rank_metrics" -> ((4, 3, 3)),
    // distinct (flag, partkey) over the spread scan, hashed on the
    // partkey, replaces the countDistinct Expand; counts unchanged
    // (noop warm median sf0.1: 1.94 → 0.85 s)
    "q1A_approx_distinct" -> ((2, 1, 0)),
    "q41_minhash_sigs" -> ((1, 1, 0)),
    // one spread pass on the null-safe doc_id key feeds both sides
    // and the join: 2 → 1 exchanges, 2 → 1 scans, and the isnotnull
    // filter the equi-join pushed to the reader is gone (noop warm
    // median sf0.1: 1.28 → 0.60 s)
    "q65_repetition" -> ((1, 1, 0)),
    "q70_tweet_pipeline_freq" -> ((0, 1, 1)),
    // round 10: checkpointed labels carry their REAL materialized
    // size (GraftShims.resetCheckpointStats) instead of the inherited
    // estimate, so the final vertices⋈labels join auto-broadcasts —
    // one fewer exchange in q74 and qC1
    "q74_dedup_clusters" -> ((0, 1, 0)),
    "q9D_cross_corpus_lsh" -> ((1, 3, 3)),
    // round 15 (opt): 4 → 6 exchanges — (a) Spread.scan spreads the
    // under-split lineitem scan feeding the edge build (identity at
    // real scale); (b) the iteration join pins shuffle_hash on the
    // slim ranks side (sort-free at bench/large SF where the planner
    // chose SortMergeJoin; at this toy SF it replaces a broadcast, so
    // the tiny per-iteration ranks exchanges now appear). Measured
    // 3.4 → 2.4 s warm at sf0.1.
    "qA3_pagerank" -> ((6, 0, 0)),
    "qA9_curriculum_bins" -> ((4, 0, 0)),
    // round 16 (opt): 3 → 2 exchanges — the crossJoined cnt.agg
    // totals (their own partial/final agg exchange + a second
    // documents pass) now ride the ECDF's existing single-partition
    // window; one scan, one fewer exchange.
    "qB1_ks_drift" -> ((2, 1, 0)),
    // the exact-dedup frame is no longer pinned: its documents scan
    // and agg feed the components vertices, survivors and audit in
    // one plan (noop warm median sf0.1: 2.10 → 2.35 s)
    "qC1_curation_pipeline" -> ((9, 5, 4)),
    // qCC and qCD spread the lineitem scan (+1 exchange) and take
    // their exact percentiles in one array-form aggregate; qCC's two
    // phases read the one spread exchange: 2 → 1 scans (noop warm
    // median sf0.1: qCC 3.18 → 1.75 s; qCD 4.00 → 1.50 s)
    "qCC_winsorized" -> ((3, 1, 1)),
    "qCD_dd_quantiles" -> ((2, 1, 0)),
    "qE0_jw_fuzzy_block" -> ((1, 1, 0)),
    "qE2_equidepth_hist" -> ((4, 0, 0)),
    // round 8: qF3 reads the STAGED cluster-label table (closure runs
    // once, in q74's timer) — 2 scans of the labels parquet (per-
    // cluster agg + split-count agg sides), one fewer exchange than
    // the in-query components build
    "qF3_split_leakage" -> ((4, 2, 0))
  )

  private def audit(name: String): (Int, Int, Int, Int) = {
    val adaptiveWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try {
      val plan = SparkEntry.queries(name)(spark, sfDir)
        .queryExecution.executedPlan
      val exchanges = plan.collect { case e: ShuffleExchangeLike => e }.size
      val scans = plan.collect { case f: FileSourceScanExec => f }
      val pushed = scans.count(
        _.metadata.get("PushedFilters").exists(_ != "[]"))
      val cartesian = plan.collect { case c: CartesianProductExec => c }.size
      (exchanges, scans.size, pushed, cartesian)
    } finally spark.conf.set("spark.sql.adaptive.enabled", adaptiveWas)
  }

  expected.toSeq.sortBy(_._1).foreach { case (name, (exp, escan, epush)) =>
    test(s"$name plan shape is pinned: $exp exchanges, $escan scans, $epush pushed") {
      val (exchanges, scans, pushed, cartesian) = audit(name)
      assert(exchanges === exp,
        s"$name exchange count drifted (got $exchanges, pinned $exp): " +
          "re-run graft.PlanAudit, inspect the diff, and re-pin deliberately")
      assert(scans === escan, s"$name parquet scan count drifted")
      assert(pushed === epush,
        s"$name pushed-filter scan count drifted — a filter stopped " +
          "reaching (or newly reached) the parquet reader")
      assert(cartesian === 0,
        s"$name plans a CartesianProduct — never acceptable at scale")
    }
  }
}
