package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.io.CheckpointStrategy
import graft.io.Sources.table

/** Evaluation-science and curation-analytics queries (round 7): the
  * statistical machinery an LLM-training data/eval pipeline runs on
  * top of the curation engine — corpus growth law fitting, survival
  * analysis, preference-model aggregation, observational matching,
  * label-noise estimation, dialog-structure audits, robust trend
  * estimation, and link analysis.
  *
  * Float discipline (the repo-wide contract): every aggregate that
  * crosses a shuffle is an exact integer (cents / nano-quantized
  * BIGINT, or decimal(38,0) moments à la qB3); doubles appear only in
  * pinned final per-row expressions that the DuckDB oracle replays in
  * the identical op order. Natural logs go through [[graft.functions.LnExact]]
  * (correctly-rounded, matches DuckDB's libm `ln` — q11B precedent)
  * and are floor-quantized to integer nanos BEFORE any sum.
  */
object EvalQueries {

  /** q130/q12E's probe-set cap (round 12): the %25 probe rule makes the
    * probe COUNT grow with the corpus, so probes×corpus pair volume
    * is quadratic — ~6 min Spark-side and an infeasible DuckDB truth
    * side at sf10. The q132 discipline bounds it: among the %25
    * probes, keep the EvalProbeCap with the smallest
    * (md5(vec_id), vec_id) — deterministic, partition-invariant,
    * engine-reproducible. The cap exceeds the probe population at
    * sf0.01/sf0.1/sf1 (80/800 probes), so certified small-SF results
    * are byte-identical; it binds at sf10+ where it turns the eval
    * linear in the corpus. A recall ESTIMATE over a 1024-probe md5
    * sample is statistically the same eval — no embedding-storage
    * decision changes on the tail probes. */
  private val EvalProbeCap = 1024

  /** q12E's own probe cap. Tighter than [[EvalProbeCap]] because its
    * per-pair work is heavier than q130's (two md5s + a top-100
    * group-limit vs one 16-dim dot): 1024 probes × 500k docs at sf10
    * is 512M md5-scored pairs (~20 min single-JVM — measured in the
    * round-12 sweep); 256 keeps the eval linear AND fast while still
    * averaging MRR/NDCG over 256 queries. Exceeds the probe
    * population at sf0.01/sf0.1 (20/200), so certified small-SF
    * results stay byte-identical; binds at sf1+. */
  private val Q12eProbeCap = 256

  /** md5-derived uniform in [0, 2^52) as a BIGINT — the q118 synthetic
    * randomness convention (13 hex chars = 52 bits, exact in a double). */
  private def md5Bits(c: Column): Column =
    conv(substring(md5(c), 1, 13), 16, 10).cast("long")

  /** HITS iteration 2 over a (c, sup) edge list with decimal(38,0)
    * accumulators: hub₁ = Σ auth₁ and auth₂ = Σ hub₁ grow ~deg², so
    * raw int64 sums wrap once hub degrees reach ~1e10 (hub² growth —
    * the first-to-break-at-1000× item from SURVEY 8.8). decimal(38,0)
    * matches DuckDB's HUGEINT sum() accumulator bit-for-bit on the
    * shared range. Factored out so ScaleSmokeSpec can plant
    * near-2^63 auth₁ values and pin the no-wrap behavior. */
  private[graft] def hitsAuth2(e: DataFrame, auth1: DataFrame): DataFrame = {
    val hub1 = e.join(auth1, "sup").groupBy("c")
      .agg(sum(col("a1").cast("decimal(38,0)")).as("h1"))
    e.join(hub1, "c").groupBy("sup").agg(sum("h1").as("a2"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Heaps'-law fit: V(N) = K·N^β — the vocabulary-growth curve every
    // tokenizer/corpus sizing study starts from. Token first-
    // occurrences come from ONE hash aggregate (token → min doc_id):
    // at 100 TB this is the same map-side-combinable groupBy as exact
    // dedup, never a sort. The cumulative frame then has ONE ROW PER
    // DOCUMENT (corpus doc count, ~1e9 at scale — bounded and tiny
    // next to the token stream), and the global-order prefix sums run
    // on that collapsed frame; the OLS moments over (ln N, ln V) are
    // nano-quantized BIGINTs summed in decimal(38,0) (qB3 discipline),
    // so the fit is partition-order-invariant. Output: one row.
    "q123_heaps_law" -> ((s, dir) => {
      // Spread.scan (r15 opt): `toks` feeds two aggregates, each
      // re-running the token explode serially on the single-split
      // scan; spread makes both parallel (identity at real scale)
      val toks = graft.ops.Spread.scan(
          table(s, dir, "documents").select("doc_id", "text"),
          Seq(col("doc_id")))
        .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      val newPerDoc = toks.groupBy("tok").agg(min("doc_id").as("doc_id"))
        .groupBy("doc_id").agg(count(lit(1)).as("new_toks"))
      val perDoc = toks.groupBy("doc_id").agg(count(lit(1)).as("n_toks"))
        .join(newPerDoc, Seq("doc_id"), "left")
        .na.fill(0L, Seq("new_toks"))
      // two-level prefix sum: a GLOBAL unpartitioned window would pull
      // every doc row through one task — instead, bucket by doc_id
      // range, prefix-sum the (bounded) bucket aggregates globally,
      // and offset within each bucket with a partitioned window.
      // Integer addition is associative, so the values are identical
      // to the oracle's flat running sum.
      val bucketed = perDoc.withColumn("bkt", expr("doc_id div 1024"))
      val wBkt = Window.orderBy("bkt")
        .rowsBetween(Window.unboundedPreceding, -1)
      val offsets = bucketed.groupBy("bkt")
        .agg(sum("n_toks").as("bn"), sum("new_toks").as("bv"))
        .withColumn("off_n", coalesce(sum("bn").over(wBkt), lit(0L)))
        .withColumn("off_v", coalesce(sum("bv").over(wBkt), lit(0L)))
        .select("bkt", "off_n", "off_v")
      val wIn = Window.partitionBy("bkt").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pts = bucketed.join(broadcast(offsets), "bkt")
        .withColumn("n_cum", col("off_n") + sum("n_toks").over(wIn))
        .withColumn("v_cum", col("off_v") + sum("new_toks").over(wIn))
        .select(
          floor(graft.functions.LnExact(col("n_cum").cast("double")) * 1e9)
            .cast("long").as("x_fp"),
          floor(graft.functions.LnExact(col("v_cum").cast("double")) * 1e9)
            .cast("long").as("y_fp"),
          col("n_cum"), col("v_cum"))
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val m = pts.agg(
        count(lit(1)).as("n"),
        max("n_cum").as("tokens_total"), max("v_cum").as("vocab_total"),
        sum(dec(col("x_fp"))).as("sx"), sum(dec(col("y_fp"))).as("sy"),
        sum(dec(col("x_fp")) * dec(col("y_fp"))).as("sxy"),
        sum(dec(col("x_fp")) * dec(col("x_fp"))).as("sxx"))
      val num = dec(col("n")) * col("sxy") - col("sx") * col("sy")
      val den = dec(col("n")) * col("sxx") - col("sx") * col("sx")
      m.select(col("n").as("n_docs"), col("tokens_total"), col("vocab_total"),
          num.cast("double").as("numd"), den.cast("double").as("dend"),
          col("sx").cast("double").as("sxd"), col("sy").cast("double").as("syd"),
          col("n"))
        .select(col("n_docs"), col("tokens_total"), col("vocab_total"),
          (col("numd") / col("dend")).as("heaps_beta"),
          (((col("syd") - (col("numd") / col("dend")) * col("sxd")) / col("n"))
            / 1e9).as("heaps_lnk"))
    }),

    // Caliper nearest-neighbor matching (propensity-score shape): the
    // observational-causal workhorse — match each treated unit to its
    // nearest control on a score, within a caliper. Controls collapse
    // to ONE ROW PER DISTINCT SCORE first (bounded: the score grid,
    // 10k cells here), which (a) makes the nearest-below/above lookup
    // deterministic with no tie ambiguity and (b) turns the match
    // into two sorted-merge passes over a treated∪control-grid union —
    // the q18 as-of shape, linear after the sort, never a pair join.
    // Distances and outcome diffs are exact cents BIGINTs.
    "q124_caliper_match" -> ((s, dir) => {
      val e = table(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("score", col("cents") % 10000L)
      val ctl = e.filter(col("event_type") === "view")
        .groupBy("score").agg(min("cents").as("c_cents"))
      val trt = e.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("score"), col("cents"))
      // the nearest-neighbor windows are PARTITIONED by score bucket
      // (never a global single-task sort): every grid row is
      // duplicated into its two neighbor buckets, so any in-CALIPER
      // (50 ≪ bucket width 1000) match is present in the treated
      // row's own partition; out-of-caliper nearests may differ from
      // the flat-sort answer, but they are not matches and never
      // reach the output — the oracle's global ASOF form agrees on
      // every emitted cell
      val bkt = (c: Column) => (c / lit(1000L)).cast("long")
      val u = trt.select(col("event_id"), col("score"), col("cents"),
          lit(null).cast("long").as("g_score"), lit(null).cast("long").as("g_cents"),
          lit(0).as("is_g"), bkt(col("score")).as("wb"))
        .union(ctl.select(lit(-1L).as("event_id"), col("score"),
            lit(null).cast("long").as("cents"),
            col("score").as("g_score"), col("c_cents").as("g_cents"), lit(1).as("is_g"),
            bkt(col("score")).as("wb"))
          .select(col("*"), explode(array(lit(-1L), lit(0L), lit(1L))).as("dwb"))
          .withColumn("wb", col("wb") + col("dwb")).drop("dwb")
          .filter(col("wb") >= 0 && col("wb") <= 9)
          .select("event_id", "score", "cents", "g_score", "g_cents", "is_g", "wb"))
      // grid rows sort before treated at the same score in BOTH
      // directions, so an exact-score control is its own match
      val wUp = Window.partitionBy("wb")
        .orderBy(col("score").asc, col("is_g").desc, col("event_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wDn = Window.partitionBy("wb")
        .orderBy(col("score").desc, col("is_g").desc, col("event_id").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val matched = u
        .withColumn("lo_score", last(when(col("is_g") === 1, col("g_score")),
          ignoreNulls = true).over(wUp))
        .withColumn("lo_cents", last(when(col("is_g") === 1, col("g_cents")),
          ignoreNulls = true).over(wUp))
        .withColumn("hi_score", last(when(col("is_g") === 1, col("g_score")),
          ignoreNulls = true).over(wDn))
        .withColumn("hi_cents", last(when(col("is_g") === 1, col("g_cents")),
          ignoreNulls = true).over(wDn))
        .filter(col("is_g") === 0)
        .withColumn("d_lo", when(col("lo_score").isNotNull,
          col("score") - col("lo_score")))
        .withColumn("d_hi", when(col("hi_score").isNotNull,
          col("hi_score") - col("score")))
        .withColumn("use_lo", col("d_lo").isNotNull &&
          (col("d_hi").isNull || col("d_lo") <= col("d_hi")))
        .withColumn("m_dist", when(col("use_lo"), col("d_lo")).otherwise(col("d_hi")))
        .withColumn("m_cents", when(col("use_lo"), col("lo_cents")).otherwise(col("hi_cents")))
        .withColumn("is_match", col("m_dist").isNotNull && col("m_dist") <= 50L)
      matched
        .groupBy((col("score") / lit(1000L)).cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_treated"),
          sum(when(col("is_match"), 1L).otherwise(0L)).as("n_matched"),
          sum(when(col("is_match"), col("cents") - col("m_cents"))
            .otherwise(0L)).as("diff_cents"))
        .withColumn("att_dollars", when(col("n_matched") > 0,
          expr("CAST(diff_cents AS DOUBLE) / n_matched / 100")))
    }),

    // Kaplan–Meier survival over user lifetimes: per-user duration =
    // days between first and last event; "death" = the user's final
    // event is an 'error' (churn proxy), otherwise right-censored.
    // The life table collapses to one row per distinct duration-day
    // (bounded by the calendar span), so the at-risk reverse prefix
    // sum and the survival product both run on a tiny frame. The
    // survival product deliberately avoids exp/ln: Π(1 − d/n) is
    // folded per row over the duration-sorted factor list, and since
    // IEEE requires −, /, × to be correctly rounded (unlike exp,
    // where JVM and libm drift a ulp apart — observed at sf0.1), the
    // ordered fold is bit-identical across engines. The per-row
    // prefix refold is O(R²) on the R death-days — R is bounded by
    // the calendar span, never by the row count.
    "q125_kaplan_meier" -> ((s, dir) => {
      val e = table(s, dir, "events")
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").desc, col("event_id").desc)
      val users = e
        .withColumn("rn", row_number().over(w))
        .groupBy("user_id")
        .agg(
          floor((max(unix_micros(col("ts"))) - min(unix_micros(col("ts"))))
            / lit(86400000000L)).as("dur_days"),
          max(when(col("rn") === 1, col("event_type"))).as("last_type"))
        .withColumn("observed", when(col("last_type") === "error", 1L).otherwise(0L))
      val lt = users.groupBy("dur_days")
        .agg(count(lit(1)).as("n_at"), sum("observed").as("deaths"))
      val wRisk = Window.orderBy(col("dur_days").desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val lt2 = lt.withColumn("at_risk", sum("n_at").over(wRisk))
        .filter(col("deaths") > 0)
        .select(col("dur_days"), col("at_risk"), col("deaths"))
      // r16 (guide §2.4): the crossJoined collect_list made lt2 a
      // two-consumer frame, so the whole per-user last-event window
      // pass ran twice. The factor array now rides a window over the
      // life table itself (bounded by the calendar span; sort_array
      // keeps the fold order deterministic regardless of window row
      // order).
      lt2.withColumn("arr", sort_array(collect_list(struct(
          col("dur_days"), col("at_risk"), col("deaths")))
          .over(Window.partitionBy())))
        .withColumn("survival", expr(
          """aggregate(
               transform(
                 filter(arr, x -> x.dur_days <= dur_days),
                 x -> 1.0D - CAST(x.deaths AS DOUBLE) / x.at_risk),
               CAST(1.0 AS DOUBLE), (acc, f) -> acc * f)"""))
        .select(col("dur_days"), col("at_risk"), col("deaths"), col("survival"))
    }),

    // Bradley–Terry preference strengths (2 MM iterations) — the
    // pairwise-preference aggregation under every RLHF reward-data
    // pipeline. "Comparisons" are consecutive same-user events: the
    // higher-valued event's type wins (tie → earlier). The raw stream
    // collapses map-side to a ≤K² pair matrix (K = #types), so the MM
    // iterations run on a broadcast-size frame no matter the event
    // count. Strengths stay micro-quantized BIGINTs between
    // iterations; per-pair MM terms use exact BIGINT floor division
    // (n·10¹² DIV (π_i+π_j)), so iteration 2 is bit-identical across
    // engines with zero float sums.
    "q126_bradley_terry" -> ((s, dir) => {
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val comp = table(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("p_type", lag("event_type", 1).over(wSeq))
        .withColumn("p_cents", lag("cents", 1).over(wSeq))
        .filter(col("p_type").isNotNull && col("p_type") =!= col("event_type"))
        .withColumn("winner", when(col("cents") > col("p_cents"),
          col("event_type")).otherwise(col("p_type")))
        .withColumn("loser", when(col("cents") > col("p_cents"),
          col("p_type")).otherwise(col("event_type")))
      // pinned (r15 opt): the <=K^2-row pair matrix feeds three
      // branches (it1, the n_ab window, terms) that each re-ran the
      // full events lag-window + aggregate; materializing K^2 rows
      // makes the re-reads free at any scale
      val pairs = CheckpointStrategy.EagerLocal.session("q126").pin(
        comp.groupBy("winner", "loser").agg(count(lit(1)).as("n_wl")))
      val und = pairs.select(col("winner").as("a"), col("loser").as("b"), col("n_wl"))
        .union(pairs.select(col("loser").as("a"), col("winner").as("b"), lit(0L)))
        .groupBy("a", "b").agg(sum("n_wl").as("wins_ab"))
        // n_ab = wins_ab + wins_ba: the partition holds exactly the
        // (a,b) and (b,a) rows, so the partition sum IS the pair total
        .withColumn("n_ab", sum("wins_ab").over(Window.partitionBy(
          least(col("a"), col("b")), greatest(col("a"), col("b")))))
      // iteration 1 from π=1: π₁ = W / (N/2), micro-quantized
      val it1 = und.groupBy("a")
        .agg(sum("wins_ab").as("w"), sum("n_ab").as("n"))
        .withColumn("p1_fp",
          floor(lit(2e6) * col("w").cast("double") / col("n")).cast("long"))
      // iteration 2: π₂ = W / Σ_b n_ab/(π₁a+π₁b), all-integer terms
      val p1 = it1.select(col("a").as("k"), col("p1_fp").as("pf"))
      val terms = und
        .join(p1.withColumnRenamed("k", "a").withColumnRenamed("pf", "pa"), "a")
        .join(p1.withColumnRenamed("k", "b").withColumnRenamed("pf", "pb"), "b")
        // decimal numerator: n_ab·1e12 wraps int64 at only ~9.2e6
        // comparisons per pair; the quotient (≤ n_ab·1e12/(pa+pb),
        // pa+pb ≈ 2e6-scale weights) stays a BIGINT
        .withColumn("term_fp",
          expr("CAST(n_ab AS DECIMAL(38,0)) * 1000000000000 div (pa + pb)"))
        .groupBy("a").agg(sum("term_fp").as("den_fp"))
      it1.join(terms, "a")
        .select(col("a").as("event_type"), col("w").as("n_wins"),
          col("n").as("n_comparisons"), col("p1_fp"),
          (col("w").cast("double") * 1e6 / col("den_fp")).as("strength"))
    }),

    // Confident-learning label-noise matrix (Northcutt-style): class
    // thresholds t_j = mean score of class j among examples LABELED j;
    // an example votes for class j* = argmax over classes whose score
    // clears t_j. Scores are synthetic md5 uniforms (+ a true-class
    // boost, so the matrix has real diagonal structure — q118's
    // knowably-structured-randomness convention). Everything is
    // integer-exact: the threshold compare is score·n_j ≥ Σscores
    // (BIGINT cross-multiply, no mean division), argmax ties break by
    // class name. Shape: docs × K explode → one groupBy for
    // thresholds (K rows, broadcast back) → windowed argmax → K²
    // matrix. Linear in docs, K=5.
    "q127_label_noise" -> ((s, dir) => {
      val langs = table(s, dir, "documents").select(col("lang").as("cls")).distinct()
      val scored = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .crossJoin(broadcast(langs))
        .withColumn("score_fp",
          md5Bits(concat(col("doc_id").cast("string"), lit("|"), col("cls")))
              % lit(1000000000L)
            + when(col("cls") === col("lang"), lit(500000000L)).otherwise(lit(0L)))
      // decimal(38,0) threshold compare: s_j = Σscore_fp over n_j docs
      // (~1.5e9 each) and the score_fp·n_j cross-multiply both pass
      // 2^63 near 1e10 docs/class; decimal matches DuckDB's HUGEINT
      // sum() accumulator and the compare is exact at any scale
      val thr = scored.filter(col("cls") === col("lang"))
        .groupBy("cls").agg(count(lit(1)).as("n_j"),
          sum(col("score_fp").cast("decimal(38,0)")).as("s_j"))
      val wArg = Window.partitionBy("doc_id")
        .orderBy(col("score_fp").desc, col("cls").asc)
      scored.join(broadcast(thr), "cls")
        .filter(col("score_fp").cast("decimal(38,0)") * col("n_j") >= col("s_j"))
        .withColumn("rn", row_number().over(wArg))
        .filter(col("rn") === 1)
        .groupBy(col("lang").as("label"), col("cls").as("predicted"))
        .agg(count(lit(1)).as("n"))
        .withColumn("is_noise_cell", (col("label") =!= col("predicted")).cast("int"))
    }),

    // Dialog-turn structure audit — the SFT-conversation shape checks
    // (turn counts, who opens/closes, turn lengths) run per session.
    // Sessions use a 24 h gap (the synthetic stream's median same-user
    // gap is ~7 h, so 24 h yields real multi-turn sessions); turns are
    // role runs (qD0's RLE trick: cumulative role-change counter).
    // All narrow per-user windows + one bounded groupBy by turn-count
    // bucket; ratios are single pinned divisions over exact counts.
    "q128_dialog_turns" -> ((s, dir) => {
      val wSeq = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val ev = table(s, dir, "events")
        .withColumn("role", when(col("event_type").isin("click", "view"), "u")
          .otherwise("a"))
        // µs-exact gap compare (unix_micros ↔ the oracle's epoch_us):
        // a second-truncated cast would disagree with the oracle on
        // gaps inside [86399 s, 86400 s) whose fractional parts
        // straddle a second boundary — same pattern as q125.
        .withColumn("new_s", when(unix_micros(col("ts"))
            - lag(unix_micros(col("ts")), 1).over(wSeq) >= 86400000000L
            || lag(col("ts"), 1).over(wSeq).isNull, 1L).otherwise(0L))
        .withColumn("sess", sum("new_s").over(
          wSeq.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      val wSess = Window.partitionBy("user_id", "sess")
        .orderBy(col("ts").asc, col("event_id").asc)
      val turns = ev
        .withColumn("turn_brk", when(lag("role", 1).over(wSess).isNull
          || lag("role", 1).over(wSess) =!= col("role"), 1L).otherwise(0L))
        .withColumn("turn", sum("turn_brk").over(
          wSess.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      // DuckDB's arg_min/arg_max reject composite keys, and a bare ts
      // key is deterministic only while (user_id, ts) stays
      // duplicate-free — a DATA property the generator could stop
      // providing. Zero-padded fixed-width concat makes (ts, event_id)
      // one lexicographic key whose order both engines share on any
      // data (non-negative µs fit 20 digits, ids 10).
      val ordKey = concat(
        lpad(unix_micros(col("ts")).cast("string"), 20, "0"),
        lpad(col("event_id").cast("string"), 10, "0"))
      val perSess = turns.groupBy("user_id", "sess")
        .agg(max("turn").as("n_turns"), count(lit(1)).as("n_events"),
          min_by(col("role"), ordKey).as("open_role"),
          max_by(col("role"), ordKey).as("close_role"))
      perSess
        .groupBy(least(col("n_turns"), lit(6L)).as("turns_bucket"))
        .agg(count(lit(1)).as("n_sessions"),
          sum("n_events").as("n_events"),
          sum(when(col("open_role") === "u", 1L).otherwise(0L)).as("n_open_u"),
          sum(when(col("close_role") === "a", 1L).otherwise(0L)).as("n_close_a"),
          sum("n_turns").as("n_turns_sum"))
        .withColumn("avg_turn_len",
          expr("CAST(n_events AS DOUBLE) / n_turns_sum"))
        .withColumn("open_u_rate",
          expr("CAST(n_open_u AS DOUBLE) / n_sessions"))
    }),

    // Theil–Sen robust trend per event type — the outlier-proof slope
    // estimator for metric drift. The pair set is explicitly bounded:
    // the first 102 events per type (row_number sample) give exactly
    // C(102,2)=5151 pairwise slopes — odd by construction, so the
    // median is a POSITIONAL element (rank 2576 of the slope order),
    // no interpolation, no float averaging. x is the sample index, so
    // Δx>0 always and each slope is one pinned double division of
    // exact cents. Per-group work is a constant 102×102 regardless of
    // data size — the capped-sample robust-statistic shape.
    "q129_theil_sen" -> ((s, dir) => {
      val wSmp = Window.partitionBy("event_type")
        .orderBy(col("ts").asc, col("event_id").asc)
      val smp = table(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("idx", row_number().over(wSmp))
        .filter(col("idx") <= 102)
        .select(col("event_type"), col("idx").cast("long").as("idx"), col("cents"))
      val slopes = smp.as("i").join(smp.as("j"),
          col("i.event_type") === col("j.event_type") &&
            col("i.idx") < col("j.idx"))
        .select(col("i.event_type").as("event_type"),
          ((col("j.cents") - col("i.cents")).cast("double")
            / (col("j.idx") - col("i.idx"))).as("slope"),
          col("i.idx").as("i"), col("j.idx").as("j"))
      val wMed = Window.partitionBy("event_type")
        .orderBy(col("slope").asc, col("i").asc, col("j").asc)
      slopes
        .withColumn("rn", row_number().over(wMed))
        .withColumn("n_pairs", count(lit(1)).over(
          Window.partitionBy("event_type")))
        .filter(col("rn") === (col("n_pairs") + 1) / 2)
        .select(col("event_type"), col("n_pairs"),
          col("slope").as("ts_slope_cents_per_step"))
    }),

    // HITS hubs & authorities (2 exact iterations) on the customer →
    // supplier purchase graph — the other classic link-analysis
    // fixed point next to qA3's PageRank, and the bipartite ranking
    // shape retrieval pipelines use for query↔doc graphs. Scores
    // accumulate in decimal(38,0) through both iterations (hub²
    // growth wraps int64 near 1e10-degree hubs; decimal mirrors
    // DuckDB's HUGEINT sum() — see hitsAuth2), one pinned division to
    // a relative score at the end. authority_fp is emitted BIGINT for
    // the driver contract — the cast is the one remaining int64
    // surface, and only the top-20 diagnostic crosses it; at 100 TB a
    // consumer reads authority_rel (double) or keeps the decimal.
    // Each iteration is one shuffle-join + partial agg on the
    // distinct edge list; top-20 is TakeOrderedAndProject, never a
    // global sort.
    "q12A_hits" -> ((s, dir) => {
      // Spread.scan (r15 opt): the single-split lineitem scan fused the
      // join probe + distinct partial into one serial task (guide §2.5)
      val e = graft.ops.Spread.scan(
          table(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
          Seq(col("l_orderkey")))
        .join(table(s, dir, "orders").select(col("o_orderkey"), col("o_custkey")),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sup"))
        .distinct()
      // hub₀ = 1 ⇒ auth₁ = in-degree; hub₁ = Σ auth₁ over c's edges
      val auth1 = e.groupBy("sup").agg(count(lit(1)).as("a1"))
      val auth2 = hitsAuth2(e, auth1)
      // r16: the old `auth2.agg(max)` + crossJoin normalizer made
      // auth2 (two joins + two aggs over e) a TWO-consumer frame, so
      // the whole HITS tree executed twice per run (guide §2.4). The
      // global max is by construction the first row of the a2-desc
      // top-20 cut, so the normalizer is a window max over the 20-row
      // post-limit frame — single-partition on 20 rows by design (the
      // WindowExec-inventory limit(k) pattern), and auth2 now has ONE
      // consumer.
      auth2.orderBy(col("a2").desc, col("sup").asc).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("a2").desc, col("sup").asc)).cast("long"))
        .withColumn("mx", max(col("a2")).over(Window.partitionBy()))
        .select(col("rnk"), col("sup").as("s_suppkey"),
          col("a2").cast("long").as("authority_fp"),
          (col("a2").cast("double") / col("mx")).as("authority_rel"))
    }),

    // Simpson's-paradox audit: does the aggregated return-rate
    // comparison between line statuses flip sign inside ship-month
    // strata? The canonical pre-launch sanity check for any
    // aggregated metric comparison. Sign tests are exact BIGINT
    // cross-multiplies (r_O > r_F ⟺ n_RO·n_F > n_RF·n_O) — no rate
    // is ever compared as a float. One groupBy to strata (+1 row via
    // a broadcast overall frame); bounded output.
    "q12B_simpson_audit" -> ((s, dir) => {
      val li = table(s, dir, "lineitem").select(
        month(col("l_shipdate")).cast("string").as("stratum"),
        (col("l_linestatus") === "O").cast("long").as("is_o"),
        (col("l_returnflag") === "R").cast("long").as("is_r"))
      def agg(g: org.apache.spark.sql.RelationalGroupedDataset) = g
        .agg(sum("is_o").as("n_o"),
          sum(lit(1L) - col("is_o")).as("n_f"),
          sum(col("is_o") * col("is_r")).as("n_ro"),
          sum((lit(1L) - col("is_o")) * col("is_r")).as("n_rf"))
      val strata = agg(li.groupBy("stratum"))
      val overall = agg(li.groupBy(lit("ALL").as("stratum")))
      val sgn = (nro: Column, nf: Column, nrf: Column, no: Column) =>
        when(nro * nf > nrf * no, 1).when(nro * nf < nrf * no, -1).otherwise(0)
      val all1 = overall.select(
        sgn(col("n_ro"), col("n_f"), col("n_rf"), col("n_o")).as("all_sign"))
      strata.unionAll(overall)
        .crossJoin(broadcast(all1))
        .withColumn("rate_o", expr("CAST(n_ro AS DOUBLE) / n_o"))
        .withColumn("rate_f", expr("CAST(n_rf AS DOUBLE) / n_f"))
        .withColumn("diff_sign",
          sgn(col("n_ro"), col("n_f"), col("n_rf"), col("n_o")))
        .withColumn("reversed",
          col("stratum") =!= "ALL" && col("diff_sign") =!= 0
            && col("all_sign") =!= 0 && col("diff_sign") =!= col("all_sign"))
        .drop("all_sign")
    }),

    // Tokenizer-fertility audit by language: chars/token and
    // subwords/token (fertility) decide the token budget a corpus
    // actually costs — the first table any tokenizer-selection study
    // makes. Reuses the engine's q32 splitters; one narrow map + one
    // K-row agg; ratios are pinned divisions over exact BIGINT sums.
    "q12C_tokenizer_fertility" -> ((s, dir) => {
      val t = col("text")
      table(s, dir, "documents")
        .select(col("lang"), col("n_chars"),
          graft.text.TextStats.tokenCount(t).cast("long").as("n_tok"),
          graft.text.TextStats.subwordCount(t).cast("long").as("n_sub"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_chars").as("chars"),
          sum("n_tok").as("tokens"), sum("n_sub").as("subwords"))
        .withColumn("fertility", expr("CAST(subwords AS DOUBLE) / tokens"))
        .withColumn("chars_per_token", expr("CAST(chars AS DOUBLE) / tokens"))
        .withColumn("chars_per_subword", expr("CAST(chars AS DOUBLE) / subwords"))
    }),

    // Fleiss' kappa inter-annotator agreement — the eval-pipeline
    // gate on any human- or model-labeled dataset. Three synthetic
    // raters label each doc (60% the true lang, else an md5-chosen
    // alternative — q118's structured-randomness convention), and
    // kappa comes out of THREE exact integer sums: S1 = Σ_i(Σ_k n_ik²),
    // category marginals S_k, and their squares — P̄ and P_e are
    // pinned final divisions. Shape: docs×3 narrow explode, one
    // (doc,label) agg, one K-row agg; kappa is a 1-row output.
    "q12D_fleiss_kappa" -> ((s, dir) => {
      val langIdx = table(s, dir, "documents")
        .select(col("lang").as("cls")).distinct()
        .withColumn("idx",
          (row_number().over(Window.orderBy("cls")) - 1).cast("long"))
      val labels = table(s, dir, "documents")
        .select(col("doc_id"), col("lang"))
        .select(col("*"), explode(sequence(lit(0), lit(2))).as("rater"))
        .withColumn("keep_true",
          md5Bits(concat(col("doc_id"), lit("|r"), col("rater"))) % 10 < 6)
        .withColumn("alt_idx",
          md5Bits(concat(col("doc_id"), lit("|a"), col("rater"))) % 5)
        .join(broadcast(langIdx), col("alt_idx") === col("idx"))
        .withColumn("label",
          when(col("keep_true"), col("lang")).otherwise(col("cls")))
      // S1 and the marginals both read the ≤3n-row (doc, label) count
      // frame; a pin measured no faster (noop, sf0.1, local[4])
      val nik = labels.groupBy("doc_id", "label").agg(count(lit(1)).as("n_ik"))
      val s1 = nik.groupBy("doc_id").agg(sum(col("n_ik") * col("n_ik")).as("s2"))
        .agg(count(lit(1)).as("n_items"), sum(col("s2") - 3L).as("s1"))
      val sk = nik.groupBy("label").agg(sum("n_ik").as("s_k"))
        // s_k² in decimal(38,0): a category's marginal is 3·n_docs, so
        // its square wraps int64 past ~3e9 docs; ssk is internal and
        // p_e divides the exact decimal
        .agg(count(lit(1)).as("n_cats"),
          sum(col("s_k").cast("decimal(38,0)") * col("s_k")).as("ssk"))
      s1.crossJoin(broadcast(sk))
        .withColumn("p_bar", expr("CAST(s1 AS DOUBLE) / (6.0 * n_items)"))
        .withColumn("p_e", expr("CAST(ssk AS DOUBLE) / (9.0 * n_items * n_items)"))
        .select(col("n_items"), col("n_cats"), col("p_bar"), col("p_e"),
          expr("(p_bar - p_e) / (1.0 - p_e)").as("kappa"))
    }),

    // Retrieval rank metrics (MRR, hit@10, mean NDCG@10) — the eval
    // loop's scorecard. Probes are a bounded eval set (doc_id%25=0);
    // candidate scores and graded relevance are md5-synthetic.
    // Per-position DCG terms are micro-quantized BIGINTs (gain and
    // ln-based discount are per-row scalars), so per-query DCG/IDCG
    // are exact integer sums; per-query NDCG and RR are quantized to
    // parts-per-billion via exact BIGINT division BEFORE the
    // cross-query mean — no double is ever summed. Scale: probes ×
    // corpus is the brute-force eval shape, so the %25 probe rule
    // alone makes pair volume QUADRATIC in the corpus (the sf10
    // sweep caught it mid-flight: 20k probes × 500k docs = 10B
    // md5-scored pairs, ~54 GB of window-sort shuffle before the run
    // was killed — the q130 class exactly). Q12eProbeCap bounds the
    // probe side to the 256 smallest (md5(doc_id), doc_id): exceeds
    // the probe population at sf0.01/sf0.1 (20/200 → byte-identical
    // certified results), binds at sf1+ where it turns the eval
    // linear in the corpus; a 256-probe MRR/NDCG estimate is the
    // same eval decision-wise.
    "q12E_rank_metrics" -> ((s, dir) => {
      val probes = table(s, dir, "documents")
        .filter(col("doc_id") % 25 === 0)
        .withColumn("mk", md5(col("doc_id").cast("string")))
        .orderBy(col("mk"), col("doc_id")).limit(Q12eProbeCap)
        .select(col("doc_id").as("q"))
      val cands = table(s, dir, "documents").select(col("doc_id").as("d"))
      val scored = probes.crossJoin(cands).filter(col("q") =!= col("d"))
        .withColumn("score_fp", md5Bits(concat(col("q"), lit("|s|"), col("d"))))
        .withColumn("rel",
          when(md5Bits(concat(col("q"), lit("|g|"), col("d"))) % 16 === 15, 3L)
            .when(md5Bits(concat(col("q"), lit("|g|"), col("d"))) % 16 === 14, 2L)
            .when(md5Bits(concat(col("q"), lit("|g|"), col("d"))) % 16 >= 12, 1L)
            .otherwise(0L))
        .withColumn("gain", expr("shiftleft(1L, CAST(rel AS INT)) - 1L"))
      val ranked = scored
        .withColumn("pos", row_number().over(Window.partitionBy("q")
          .orderBy(col("score_fp").desc, col("d").asc)).cast("long"))
        .filter(col("pos") <= 100)
      val dcg = ranked.filter(col("pos") <= 10)
        .withColumn("term_fp", floor(lit(1e6) * col("gain").cast("double")
          / (graft.functions.LnExact(col("pos").cast("double") + 1.0)
             / graft.functions.LnExact(lit(2.0)))).cast("long"))
        .groupBy("q").agg(sum("term_fp").as("dcg_fp"))
      val idcg = ranked
        .withColumn("ipos", row_number().over(Window.partitionBy("q")
          .orderBy(col("gain").desc, col("d").asc)).cast("long"))
        .filter(col("ipos") <= 10)
        .withColumn("term_fp", floor(lit(1e6) * col("gain").cast("double")
          / (graft.functions.LnExact(col("ipos").cast("double") + 1.0)
             / graft.functions.LnExact(lit(2.0)))).cast("long"))
        .groupBy("q").agg(sum("term_fp").as("idcg_fp"))
      val rr = ranked.filter(col("rel") >= 1)
        .groupBy("q").agg(min("pos").as("first_rel"))
      probes.join(dcg, Seq("q"), "left")
        .join(idcg, Seq("q"), "left").join(rr, Seq("q"), "left")
        .select(col("q"),
          coalesce(col("dcg_fp"), lit(0L)).as("dcg_fp"),
          coalesce(col("idcg_fp"), lit(0L)).as("idcg_fp"),
          col("first_rel"))
        .withColumn("ndcg_ppb", when(col("idcg_fp") > 0,
          expr("dcg_fp * 1000000000L div idcg_fp")).otherwise(0L))
        .withColumn("rr_ppb", when(col("first_rel").isNotNull,
          expr("1000000000L div first_rel")).otherwise(0L))
        // ppb sums in decimal(38,0): Σ over probes approaches 2^63 at
        // ~9e9 probe queries; both are internal to the double means
        .agg(count(lit(1)).as("n_queries"),
          sum(when(col("first_rel") <= 10, 1L).otherwise(0L)).as("n_hit10"),
          sum(col("rr_ppb").cast("decimal(38,0)")).as("srr"),
          sum(col("ndcg_ppb").cast("decimal(38,0)")).as("sndcg"))
        .select(col("n_queries"), col("n_hit10"),
          expr("CAST(srr AS DOUBLE) / n_queries / 1e9").as("mrr"),
          expr("CAST(sndcg AS DOUBLE) / n_queries / 1e9").as("mean_ndcg10"),
          expr("CAST(n_hit10 AS DOUBLE) / n_queries").as("hit_rate10"))
    }),

    // A/B power analysis: per-arm variance → required sample size per
    // arm for an MDE of 5% of the arm mean (α=.05 two-sided, 80%
    // power). Variance comes from decimal(38,0) moment sums (qB3
    // discipline); n = 2σ²(z_{α/2}+z_β)²/δ² is one pinned double
    // expression over those exact moments. One K-row agg, 1 pass.
    "q12F_power_analysis" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      table(s, dir, "events")
        .select(col("event_type"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("n"), sum(dec(col("cents"))).as("s"),
          sum(dec(col("cents")) * dec(col("cents"))).as("ss"))
        .select(col("event_type"), col("n"),
          (dec(col("n")) * col("ss") - col("s") * col("s"))
            .cast("double").as("m2d"),
          col("s").cast("double").as("sd"))
        .select(col("event_type"), col("n"),
          expr("sd / n / 100").as("mean_dollars"),
          expr("m2d / n / (n - 1)").as("var_cents"),
          // δ = 5% of mean; z_{.025}+z_{.8} = 2.8015852181129683
          expr("""CAST(ceil(2.0 * (m2d / n / (n - 1))
                   * 2.8015852181129683 * 2.8015852181129683
                   / ((0.05 * sd / n) * (0.05 * sd / n)))
                  AS BIGINT)""").as("n_per_arm"))
    }),

    // Matryoshka-truncation eval: recall@10 of prefix-dimension
    // retrieval (16 of 64 dims) against full-dimension brute-force
    // truth — the ablation every embedding-storage decision runs
    // (half the index cost for how much recall?). Probes are the
    // bounded eval set; per-probe overlap counts are exact integers
    // (the mean is one pinned division), and the float dots are the
    // q45 fold-order-pinned shape both engines reproduce bit-for-bit.
    "q130_matryoshka_recall" -> ((s, dir) => {
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), graft.similarity.Similarity.asDouble(col("embedding")).as("v"))
        .withColumn("v16", slice(col("v"), 1, 16))
      val probes = e.filter(col("vec_id") % 25 === 0)
        // EvalProbeCap: md5-ranked bounded probe sample (see the
        // constant's comment) — byte-identical below sf10
        .withColumn("mk", md5(col("vec_id").cast("string")))
        .orderBy(col("mk"), col("vec_id")).limit(EvalProbeCap)
        .select(col("vec_id").as("q"), col("v").as("qv"), col("v16").as("qv16"))
      val pairs = probes.join(e.filter(col("vec_id") % 25 =!= 0), lit(true))
      def topk(scoreCol: Column, tag: String) = pairs
        .withColumn("s", scoreCol)
        .withColumn("rn", row_number().over(Window.partitionBy("q")
          .orderBy(col("s").desc, col("vec_id").asc)))
        .filter(col("rn") <= 10)
        .select(col("q"), col("vec_id").as(tag))
      val full = topk(graft.similarity.Similarity.dot(col("qv"), col("v")), "d_full")
      val pre = topk(graft.similarity.Similarity.dot(col("qv16"), col("v16")), "d_pre")
      full.join(pre, full("q") === pre("q") && col("d_full") === col("d_pre"))
        .groupBy(full("q").as("q")).agg(count(lit(1)).as("n_overlap"))
        .agg(count(lit(1)).as("n_probes"), sum("n_overlap").as("s_overlap"))
        .select(col("n_probes"), col("s_overlap"),
          expr("CAST(s_overlap AS DOUBLE) / n_probes / 10").as("recall_at_10"))
    }),

    // User-level contribution bounding — the prerequisite of every
    // user-level-DP aggregate (and of abuse-resistant metrics): cap
    // each user at their k=8 earliest events, then audit how the cap
    // moves per-type totals and the max single-user share
    // (sensitivity). The cap is a per-user narrow window; shares are
    // exact BIGINT cross-compared via max_by; one bounded agg out.
    "q131_contribution_cap" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val e = table(s, dir, "events")
        .withColumn("cents", round(col("value") * 100).cast("long"))
        .withColumn("rn", row_number().over(w))
        .withColumn("kept", col("rn") <= 8)
      // decimal(38,0) cents accumulators: a per-type Σcents passes
      // 2^63 near 1e13 events (·1e6-cent values), and a whale user's
      // per-user sum is unbounded too — decimal mirrors DuckDB's
      // HUGEINT sum(); the driver-contract columns cast back to
      // BIGINT at the end (lossless at any scale the contract's
      // BIGINT schema can represent at all)
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val perUser = e.groupBy("event_type", "user_id")
        .agg(sum(dec(col("cents"))).as("u_raw"),
          sum(when(col("kept"), dec(col("cents")))
            .otherwise(dec(lit(0L)))).as("u_cap"),
          count(lit(1)).as("n_raw"),
          sum(when(col("kept"), 1L).otherwise(0L)).as("n_cap"))
      perUser.groupBy("event_type")
        .agg(sum("n_raw").as("n_events"), sum("n_cap").as("n_kept"),
          sum("u_raw").as("sum_raw_d"), sum("u_cap").as("sum_cap_d"),
          max("u_raw").as("max_raw_d"), max("u_cap").as("max_cap_d"))
        .select(col("event_type"), col("n_events"), col("n_kept"),
          col("sum_raw_d").cast("long").as("sum_cents_raw"),
          col("sum_cap_d").cast("long").as("sum_cents_capped"),
          col("max_raw_d").cast("long").as("max_user_raw"),
          col("max_cap_d").cast("long").as("max_user_capped"))
        .withColumn("kept_frac", expr("CAST(n_kept AS DOUBLE) / n_events"))
        .withColumn("max_share_raw",
          expr("CAST(max_user_raw AS DOUBLE) / sum_cents_raw"))
        .withColumn("max_share_capped",
          expr("CAST(max_user_capped AS DOUBLE) / sum_cents_capped"))
    }),

    // Difference-in-differences estimator with Welch-style SE — the
    // quasi-experimental workhorse when randomization isn't
    // available. Arms are a deterministic user split, periods the
    // month halves; each of the 4 cells carries decimal(38,0)
    // moments, so cell means/variances are pinned divisions and
    // did/se/t are a fixed arithmetic tree of IEEE-exact ops (sqrt
    // included). One groupBy, 4-cell pivot per type, K rows out.
    "q133_did_estimator" -> ((s, dir) => {
      val dec = (c: Column) => c.cast("decimal(38,0)")
      val cells = table(s, dir, "events")
        .select(col("event_type"),
          (col("user_id") % 2 === 1).cast("int").as("treat"),
          (dayofmonth(col("ts")) >= 16).cast("int").as("post"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("event_type", "treat", "post")
        .agg(count(lit(1)).as("n"), sum(dec(col("cents"))).as("sc"),
          sum(dec(col("cents")) * dec(col("cents"))).as("ssc"))
        .select(col("event_type"), col("treat"), col("post"), col("n"),
          expr("CAST(sc AS DOUBLE) / n").as("m"),
          expr("CAST(CAST(n AS DECIMAL(38,0)) * ssc - sc * sc AS DOUBLE)"
            + " / n / (n - 1) / n").as("vm"))
      def cell(t: Int, p: Int, c: String) =
        sum(when(col("treat") === t && col("post") === p, col(c)))
      cells.groupBy("event_type")
        .agg(sum("n").as("n_events"),
          cell(1, 1, "m").as("mt2"), cell(1, 0, "m").as("mt1"),
          cell(0, 1, "m").as("mc2"), cell(0, 0, "m").as("mc1"),
          cell(1, 1, "vm").as("vt2"), cell(1, 0, "vm").as("vt1"),
          cell(0, 1, "vm").as("vc2"), cell(0, 0, "vm").as("vc1"))
        .select(col("event_type"), col("n_events"),
          expr("(mt2 - mt1) - (mc2 - mc1)").as("did_cents"),
          expr("sqrt(vt2 + vt1 + vc2 + vc1)").as("se_cents"))
        .withColumn("t_stat", expr("did_cents / se_cents"))
    }),

    // l-diversity audit (k-anonymity's sensitive-attribute
    // complement): per quasi-identifier group (lang × length band),
    // distinct-count and ENTROPY of the sensitive attribute
    // (source). H = ln k − (Σ c·ln c)/k from exact counts with
    // nano-quantized ln terms — the entropy never sums raw doubles,
    // and eH is NOT taken (exp stays off the oracle boundary; the
    // log-diversity is the published number). Output: per
    // distinct-sensitive-count l: how many QI groups sit there and
    // the worst (min) k and entropy — the table a release review
    // reads bottom-up.
    "q134_l_diversity" -> ((s, dir) => {
      val cel = table(s, dir, "documents")
        .select(col("lang"), (col("n_chars") / 200L).cast("long").as("band"),
          col("source"))
        .groupBy("lang", "band", "source").agg(count(lit(1)).as("c"))
      val grp = cel
        .withColumn("clnc_fp", col("c")
          * floor(graft.functions.LnExact(col("c").cast("double")) * 1e9)
            .cast("long"))
        .groupBy("lang", "band")
        .agg(count(lit(1)).as("l_distinct"), sum("c").as("k"),
          sum("clnc_fp").as("s_fp"))
        .withColumn("lnk_fp",
          floor(graft.functions.LnExact(col("k").cast("double")) * 1e9)
            .cast("long"))
        .withColumn("entropy_h",
          expr("CAST(lnk_fp * k - s_fp AS DOUBLE) / k / 1e9"))
      grp.groupBy("l_distinct")
        .agg(count(lit(1)).as("n_groups"), min("k").as("min_k"),
          min("entropy_h").as("min_entropy"))
    }),

    // Grid-bucketed spatial join — the scale shape for "points within
    // radius": synthetic md5 coordinates on a 2^20 grid, cell =
    // high bits, and each LEFT point probes its 3×3 neighbor cells
    // (a 9-way explode, NEVER a cross join); the final L∞ radius
    // test is an exact integer compare. The same
    // bucketize→neighbor-probe→verify pattern as banded LSH, in 2-D.
    // Candidate volume is bounded by cell occupancy, not N².
    "q135_grid_spatial_join" -> ((s, dir) => {
      def pt(df: DataFrame, idCol: String, salt: String) = df
        .select(col(idCol).as("id"),
          (md5Bits(concat(col(idCol), lit(s"|x|$salt"))) % 1048576L).as("x"),
          (md5Bits(concat(col(idCol), lit(s"|y|$salt"))) % 1048576L).as("y"))
      val cust = pt(table(s, dir, "customer"), "c_custkey", "c")
      val supp = pt(table(s, dir, "supplier"), "s_suppkey", "s")
      // cell = 2^16-unit tiles; radius 60000 < tile side, so the 3×3
      // neighborhood is sufficient (no candidate can be missed)
      val cSide = 65536L
      val cells = supp
        .withColumn("cx", expr(s"x div $cSide")).withColumn("cy", expr(s"y div $cSide"))
      val probes = cust
        .select(col("*"), explode(array((for {dx <- -1 to 1; dy <- -1 to 1}
          yield struct(lit(dx.toLong).as("dx"), lit(dy.toLong).as("dy"))): _*)).as("o"))
        .withColumn("cx", expr(s"x div $cSide") + col("o.dx"))
        .withColumn("cy", expr(s"y div $cSide") + col("o.dy"))
      probes.join(cells.select(col("id").as("sid"), col("x").as("sx"),
          col("y").as("sy"), col("cx"), col("cy")), Seq("cx", "cy"))
        .filter(abs(col("x") - col("sx")) <= 60000L
          && abs(col("y") - col("sy")) <= 60000L)
        .groupBy(col("id").as("c_custkey"))
        .agg(count(lit(1)).as("n_near"), min("sid").as("nearest_ids_min"),
          sum(abs(col("x") - col("sx")) + abs(col("y") - col("sy")))
            .as("l1_sum"))
    }),

    // EWMA control chart (λ=1/2) over daily event counts — the SPC
    // companion to q110's CUSUM. The qF4 trick makes it exact: λ=1/2
    // means integer weights 2^(11-k) over a 12-term truncated window
    // (the dropped tail is < 2^-12 of the mass), so the smoothed
    // numerator/denominator are exact BIGINTs from 12 explicit lags
    // on the collapsed daily frame (days × types rows — tiny at any
    // corpus size); the chart value and the 3σ Poisson-style limit
    // are pinned double ops (sqrt is IEEE-exact).
    "q136_ewma_chart" -> ((s, dir) => {
      val daily = table(s, dir, "events")
        .groupBy(col("event_type"),
          date_trunc("day", col("ts")).cast("date").as("d"))
        .agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("event_type").orderBy("d")
      val lagged = daily
        .withColumn("ewma_fp", (0 to 11).map(k =>
          coalesce(lag(col("n"), k).over(w), lit(0L))
            * lit(1L << (11 - k))).reduce(_ + _))
        .withColumn("w_fp", (0 to 11).map(k =>
          when(lag(col("n"), k).over(w).isNotNull, lit(1L << (11 - k)))
            .otherwise(lit(0L))).reduce(_ + _))
      val mu = daily.groupBy("event_type")
        .agg(sum("n").as("tot"), count(lit(1)).as("days"))
      lagged.join(broadcast(mu), "event_type")
        .withColumn("ewma", expr("CAST(ewma_fp AS DOUBLE) / w_fp"))
        .withColumn("mu", expr("CAST(tot AS DOUBLE) / days"))
        .withColumn("ooc",
          expr("abs(ewma - mu) > 3.0 * sqrt(mu)"))
        .select(col("event_type"), col("d"), col("n"), col("ewma"),
          col("mu"), col("ooc"))
    }),

    // Two-step Markov absorption: P(reach 'purchase' within 2
    // transitions | current state) from the same per-user transition
    // counts as qDC — the quantitative form of "how close is this
    // state to converting". The K×K count matrix collapses map-side;
    // the two-step sum is ≤K exact-integer terms per state
    // (floor(T_ij·T_jP·10⁹ / (R_i·R_j)) — BIGINT floor division both
    // engines share), so the probabilities are deterministic without
    // a single float sum.
    "q137_markov_absorption" -> ((s, dir) => {
      val w = Window.partitionBy("user_id")
        .orderBy(col("ts").asc, col("event_id").asc)
      val trans = table(s, dir, "events")
        .withColumn("nxt", lead("event_type", 1).over(w))
        .filter(col("nxt").isNotNull)
        .groupBy(col("event_type").as("i"), col("nxt").as("j"))
        .agg(count(lit(1)).as("t_ij"))
      val rowTot = trans.groupBy("i").agg(sum("t_ij").as("r_i"))
      val toP = trans.filter(col("j") === "purchase")
        .select(col("i").as("j"), col("t_ij").as("t_jp"))
      // decimal(38,0) numerators: t_ij·t_jp·1e9 passes 2^63 once
      // per-cell transition counts reach ~1.5e5 (≈sf1 — only 10× the
      // bench scale), and t_ij·1e9 at ~1e10. Spark's `div` accepts
      // decimal operands and still returns BIGINT, so each term stays
      // the exact ≤1e9 integer both engines floor-divide to.
      val one = trans.filter(col("j") === "purchase")
        .join(rowTot, "i")
        .select(col("i"),
          expr("CAST(t_ij AS DECIMAL(38,0)) * 1000000000 div r_i").as("p1_fp"))
      val two = trans.filter(col("j") =!= "purchase")
        .join(broadcast(toP), Seq("j"))
        .join(rowTot.select(col("i").as("j"), col("r_i").as("r_j")), Seq("j"))
        .join(rowTot, Seq("i"))
        .select(col("i"),
          expr("CAST(t_ij AS DECIMAL(38,0)) * t_jp * 1000000000"
            + " div (CAST(r_i AS DECIMAL(38,0)) * r_j)").as("term_fp"))
        .groupBy("i").agg(sum("term_fp").as("p2_fp"))
      rowTot.join(one, Seq("i"), "left").join(two, Seq("i"), "left")
        .select(col("i").as("state"), col("r_i").as("n_transitions"),
          coalesce(col("p1_fp"), lit(0L)).as("p1_fp"),
          coalesce(col("p2_fp"), lit(0L)).as("p2_fp"))
        .withColumn("p_absorb_2step",
          expr("CAST(p1_fp + p2_fp AS DOUBLE) / 1e9"))
    })
  )

  def oracles: Map[String, String] = Map(

    "q123_heaps_law" ->
      """WITH toks AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents),
         newperdoc AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS new_toks FROM (
             SELECT tok, min(doc_id) AS doc_id FROM toks GROUP BY tok) f
           GROUP BY doc_id),
         perdoc AS (
           SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             CAST(coalesce(any_value(n.new_toks), 0) AS BIGINT) AS new_toks
           FROM toks t LEFT JOIN newperdoc n ON t.doc_id = n.doc_id
           GROUP BY t.doc_id),
         cum AS (
           SELECT
             CAST(sum(n_toks) OVER w AS BIGINT) AS n_cum,
             CAST(sum(new_toks) OVER w AS BIGINT) AS v_cum
           FROM perdoc
           WINDOW w AS (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         pts AS (
           SELECT n_cum, v_cum,
             CAST(floor(ln(CAST(n_cum AS DOUBLE)) * 1e9) AS BIGINT) AS x_fp,
             CAST(floor(ln(CAST(v_cum AS DOUBLE)) * 1e9) AS BIGINT) AS y_fp
           FROM cum),
         m AS (
           SELECT CAST(count(*) AS BIGINT) AS n,
             max(n_cum) AS tokens_total, max(v_cum) AS vocab_total,
             CAST(sum(CAST(x_fp AS HUGEINT)) AS HUGEINT) AS sx,
             CAST(sum(CAST(y_fp AS HUGEINT)) AS HUGEINT) AS sy,
             CAST(sum(CAST(x_fp AS HUGEINT) * CAST(y_fp AS HUGEINT)) AS HUGEINT) AS sxy,
             CAST(sum(CAST(x_fp AS HUGEINT) * CAST(x_fp AS HUGEINT)) AS HUGEINT) AS sxx
           FROM pts)
         SELECT n AS n_docs, tokens_total, vocab_total,
           CAST(n * sxy - sx * sy AS DOUBLE)
             / CAST(n * sxx - sx * sx AS DOUBLE) AS heaps_beta,
           ((CAST(sy AS DOUBLE)
             - (CAST(n * sxy - sx * sy AS DOUBLE)
                / CAST(n * sxx - sx * sx AS DOUBLE)) * CAST(sx AS DOUBLE))
            / CAST(n AS DOUBLE)) / 1e9 AS heaps_lnk
         FROM m""",

    "q124_caliper_match" ->
      """WITH e AS (
           SELECT event_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             CAST(round(value * 100) AS BIGINT) % 10000 AS score
           FROM events),
         ctl AS (
           SELECT score, min(cents) AS c_cents FROM e
           WHERE event_type = 'view' GROUP BY score),
         trt AS (
           SELECT event_id, score, cents FROM e WHERE event_type = 'purchase'),
         m AS (
           SELECT t.event_id, t.score, t.cents,
             lo.score AS lo_score, lo.c_cents AS lo_cents,
             hi.score AS hi_score, hi.c_cents AS hi_cents
           FROM trt t
           ASOF LEFT JOIN ctl lo ON lo.score <= t.score
           ASOF LEFT JOIN ctl hi ON hi.score >= t.score),
         d AS (
           SELECT *,
             CASE WHEN lo_score IS NOT NULL THEN score - lo_score END AS d_lo,
             CASE WHEN hi_score IS NOT NULL THEN hi_score - score END AS d_hi
           FROM m),
         pick AS (
           SELECT *,
             (d_lo IS NOT NULL AND (d_hi IS NULL OR d_lo <= d_hi)) AS use_lo
           FROM d),
         f AS (
           SELECT score, cents,
             CASE WHEN use_lo THEN d_lo ELSE d_hi END AS m_dist,
             CASE WHEN use_lo THEN lo_cents ELSE hi_cents END AS m_cents
           FROM pick),
         g AS (
           SELECT score // 1000 AS bucket, cents, m_cents,
             (m_dist IS NOT NULL AND m_dist <= 50) AS is_match
           FROM f)
         SELECT bucket, CAST(count(*) AS BIGINT) AS n_treated,
           CAST(sum(CASE WHEN is_match THEN 1 ELSE 0 END) AS BIGINT) AS n_matched,
           CAST(sum(CASE WHEN is_match THEN cents - m_cents ELSE 0 END) AS BIGINT)
             AS diff_cents,
           CASE WHEN sum(CASE WHEN is_match THEN 1 ELSE 0 END) > 0 THEN
             CAST(sum(CASE WHEN is_match THEN cents - m_cents ELSE 0 END) AS DOUBLE)
               / sum(CASE WHEN is_match THEN 1 ELSE 0 END) / 100 END AS att_dollars
         FROM g GROUP BY bucket""",

    "q125_kaplan_meier" ->
      """WITH ranked AS (
           SELECT user_id, ts, event_id, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC) AS rn
           FROM events),
         users AS (
           SELECT user_id,
             CAST(floor((max(epoch_us(ts)) - min(epoch_us(ts)))
               / 86400000000) AS BIGINT) AS dur_days,
             CAST(CASE WHEN max(CASE WHEN rn = 1 THEN event_type END) = 'error'
               THEN 1 ELSE 0 END AS BIGINT) AS observed
           FROM ranked GROUP BY user_id),
         lt AS (
           SELECT dur_days, CAST(count(*) AS BIGINT) AS n_at,
             CAST(sum(observed) AS BIGINT) AS deaths
           FROM users GROUP BY dur_days),
         risk AS (
           SELECT dur_days, deaths,
             CAST(sum(n_at) OVER (ORDER BY dur_days DESC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS at_risk
           FROM lt
           QUALIFY deaths > 0),
         a AS (
           SELECT list_sort(list(struct_pack(
             dur_days := dur_days, at_risk := at_risk, deaths := deaths)))
             AS arr
           FROM risk)
         SELECT r.dur_days, r.at_risk, r.deaths,
           list_reduce(
             list_transform(
               list_filter(a.arr, x -> x.dur_days <= r.dur_days),
               x -> 1.0 - CAST(x.deaths AS DOUBLE) / x.at_risk),
             (acc, f) -> acc * f) AS survival
         FROM risk r CROSS JOIN a""",

    "q126_bradley_terry" ->
      """WITH seq AS (
           SELECT user_id, event_type,
             CAST(round(value * 100) AS BIGINT) AS cents,
             lag(event_type) OVER w AS p_type,
             lag(CAST(round(value * 100) AS BIGINT)) OVER w AS p_cents
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         comp AS (
           SELECT
             CASE WHEN cents > p_cents THEN event_type ELSE p_type END AS winner,
             CASE WHEN cents > p_cents THEN p_type ELSE event_type END AS loser
           FROM seq WHERE p_type IS NOT NULL AND p_type <> event_type),
         pairs AS (
           SELECT winner, loser, CAST(count(*) AS BIGINT) AS n_wl
           FROM comp GROUP BY winner, loser),
         und AS (
           SELECT a, b, CAST(sum(n_wl) AS BIGINT) AS wins_ab FROM (
             SELECT winner AS a, loser AS b, n_wl FROM pairs
             UNION ALL
             SELECT loser AS a, winner AS b, 0 FROM pairs) u
           GROUP BY a, b),
         undn AS (
           SELECT a, b, wins_ab,
             CAST(sum(wins_ab) OVER (PARTITION BY least(a, b),
               greatest(a, b)) AS BIGINT) AS n_ab
           FROM und),
         it1 AS (
           SELECT a, CAST(sum(wins_ab) AS BIGINT) AS w,
             CAST(sum(n_ab) AS BIGINT) AS n,
             CAST(floor(2e6 * CAST(sum(wins_ab) AS DOUBLE) / sum(n_ab))
               AS BIGINT) AS p1_fp
           FROM undn GROUP BY a),
         terms AS (
           SELECT u.a,
             CAST(sum(CAST(u.n_ab AS HUGEINT) * 1000000000000
                 // (pa.p1_fp + pb.p1_fp))
               AS BIGINT) AS den_fp
           FROM undn u
           JOIN it1 pa ON u.a = pa.a
           JOIN it1 pb ON u.b = pb.a
           GROUP BY u.a)
         SELECT i.a AS event_type, i.w AS n_wins, i.n AS n_comparisons,
           i.p1_fp,
           CAST(i.w AS DOUBLE) * 1e6 / t.den_fp AS strength
         FROM it1 i JOIN terms t ON i.a = t.a""",

    "q127_label_noise" ->
      """WITH langs AS (SELECT DISTINCT lang AS cls FROM documents),
         scored AS (
           SELECT d.doc_id, d.lang, l.cls,
             CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR) || '|' || l.cls),
               1, 13)) AS BIGINT) % 1000000000
             + CASE WHEN l.cls = d.lang THEN 500000000 ELSE 0 END AS score_fp
           FROM documents d CROSS JOIN langs l),
         thr AS (
           SELECT cls, CAST(count(*) AS BIGINT) AS n_j,
             CAST(sum(score_fp) AS BIGINT) AS s_j
           FROM scored WHERE cls = lang GROUP BY cls),
         votes AS (
           SELECT s.doc_id, s.lang, s.cls, s.score_fp
           FROM scored s JOIN thr t ON s.cls = t.cls
           WHERE s.score_fp * t.n_j >= t.s_j),
         arg AS (
           SELECT doc_id, lang, cls,
             row_number() OVER (PARTITION BY doc_id
               ORDER BY score_fp DESC, cls ASC) AS rn
           FROM votes)
         SELECT lang AS label, cls AS predicted,
           CAST(count(*) AS BIGINT) AS n,
           CAST(CASE WHEN lang <> cls THEN 1 ELSE 0 END AS INTEGER)
             AS is_noise_cell
         FROM arg WHERE rn = 1 GROUP BY lang, cls""",

    "q128_dialog_turns" ->
      """WITH ev AS (
           SELECT user_id, ts, event_id,
             CASE WHEN event_type IN ('click', 'view') THEN 'u' ELSE 'a' END
               AS role,
             CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER w >= 86400000000
               OR lag(ts) OVER w IS NULL THEN 1 ELSE 0 END AS new_s
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC, event_id ASC)),
         sessed AS (
           SELECT *, CAST(sum(new_s) OVER (PARTITION BY user_id
             ORDER BY ts ASC, event_id ASC
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS sess
           FROM ev),
         turned AS (
           SELECT *, CAST(sum(CASE WHEN prev_role IS NULL
               OR prev_role <> role THEN 1 ELSE 0 END)
             OVER (PARTITION BY user_id, sess ORDER BY ts ASC, event_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
             AS turn
           FROM (
             SELECT *, lag(role) OVER (PARTITION BY user_id, sess
               ORDER BY ts ASC, event_id ASC) AS prev_role
             FROM sessed) x),
         per AS (
           SELECT user_id, sess, max(turn) AS n_turns,
             CAST(count(*) AS BIGINT) AS n_events,
             arg_min(role, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS open_role,
             arg_max(role, lpad(CAST(epoch_us(ts) AS VARCHAR), 20, '0')
               || lpad(CAST(event_id AS VARCHAR), 10, '0')) AS close_role
           FROM turned GROUP BY user_id, sess)
         SELECT least(n_turns, 6) AS turns_bucket,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(n_events) AS BIGINT) AS n_events,
           CAST(sum(CASE WHEN open_role = 'u' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_open_u,
           CAST(sum(CASE WHEN close_role = 'a' THEN 1 ELSE 0 END) AS BIGINT)
             AS n_close_a,
           CAST(sum(n_turns) AS BIGINT) AS n_turns_sum,
           CAST(sum(n_events) AS DOUBLE) / CAST(sum(n_turns) AS BIGINT)
             AS avg_turn_len,
           CAST(sum(CASE WHEN open_role = 'u' THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS open_u_rate
         FROM per GROUP BY least(n_turns, 6)""",

    "q129_theil_sen" ->
      """WITH smp AS (
           SELECT event_type,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY ts ASC, event_id ASC) AS BIGINT) AS idx,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events
           QUALIFY idx <= 102),
         slopes AS (
           SELECT i.event_type,
             CAST(j.cents - i.cents AS DOUBLE) / (j.idx - i.idx) AS slope,
             i.idx AS i, j.idx AS j
           FROM smp i JOIN smp j
             ON i.event_type = j.event_type AND i.idx < j.idx),
         ranked AS (
           SELECT event_type, slope,
             CAST(row_number() OVER (PARTITION BY event_type
               ORDER BY slope ASC, i ASC, j ASC) AS BIGINT) AS rn,
             CAST(count(*) OVER (PARTITION BY event_type) AS BIGINT) AS n_pairs
           FROM slopes)
         SELECT event_type, n_pairs, slope AS ts_slope_cents_per_step
         FROM ranked WHERE rn = (n_pairs + 1) // 2""",

    "q12A_hits" ->
      """WITH e AS (
           SELECT DISTINCT o.o_custkey AS c, l.l_suppkey AS sup
           FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
         auth1 AS (
           SELECT sup, CAST(count(*) AS BIGINT) AS a1 FROM e GROUP BY sup),
         -- iteration sums stay HUGEINT through BOTH iterations,
         -- mirroring Spark's decimal(38,0) accumulators (hub2 growth
         -- wraps int64 near 1e10-degree hubs); only the top-20
         -- authority_fp output crosses BIGINT, and both engines
         -- loud-fail that cast identically under overflow checks
         hub1 AS (
           SELECT e.c, sum(a.a1) AS h1
           FROM e JOIN auth1 a ON e.sup = a.sup GROUP BY e.c),
         auth2 AS (
           SELECT e.sup, sum(h.h1) AS a2
           FROM e JOIN hub1 h ON e.c = h.c GROUP BY e.sup),
         mx AS (SELECT max(a2) AS mx FROM auth2),
         top AS (
           SELECT sup, a2 FROM auth2 ORDER BY a2 DESC, sup ASC LIMIT 20)
         SELECT CAST(row_number() OVER (ORDER BY a2 DESC, sup ASC) AS BIGINT)
             AS rnk,
           sup AS s_suppkey, CAST(a2 AS BIGINT) AS authority_fp,
           CAST(a2 AS DOUBLE) / (SELECT mx FROM mx) AS authority_rel
         FROM top""",

    "q12B_simpson_audit" ->
      """WITH li AS (
           SELECT CAST(month(l_shipdate) AS VARCHAR) AS stratum,
             CAST(CASE WHEN l_linestatus = 'O' THEN 1 ELSE 0 END AS BIGINT)
               AS is_o,
             CAST(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END AS BIGINT)
               AS is_r
           FROM lineitem),
         strata AS (
           SELECT stratum, CAST(sum(is_o) AS BIGINT) AS n_o,
             CAST(sum(1 - is_o) AS BIGINT) AS n_f,
             CAST(sum(is_o * is_r) AS BIGINT) AS n_ro,
             CAST(sum((1 - is_o) * is_r) AS BIGINT) AS n_rf
           FROM li GROUP BY stratum
           UNION ALL
           SELECT 'ALL', CAST(sum(is_o) AS BIGINT),
             CAST(sum(1 - is_o) AS BIGINT),
             CAST(sum(is_o * is_r) AS BIGINT),
             CAST(sum((1 - is_o) * is_r) AS BIGINT)
           FROM li),
         sgn AS (
           SELECT *,
             CAST(CASE WHEN n_ro * n_f > n_rf * n_o THEN 1
                       WHEN n_ro * n_f < n_rf * n_o THEN -1
                       ELSE 0 END AS INTEGER) AS diff_sign
           FROM strata),
         a AS (SELECT diff_sign AS all_sign FROM sgn WHERE stratum = 'ALL')
         SELECT stratum, n_o, n_f, n_ro, n_rf,
           CAST(n_ro AS DOUBLE) / n_o AS rate_o,
           CAST(n_rf AS DOUBLE) / n_f AS rate_f,
           diff_sign,
           (stratum <> 'ALL' AND diff_sign <> 0 AND a.all_sign <> 0
            AND diff_sign <> a.all_sign) AS reversed
         FROM sgn CROSS JOIN a""",

    "q12C_tokenizer_fertility" ->
      """SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS chars,
           CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS tokens,
           CAST(sum(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS BIGINT) AS subwords,
           CAST(sum(len(regexp_extract_all(text,
             '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS DOUBLE)
             / sum(len(string_split(text, ' '))) AS fertility,
           CAST(sum(n_chars) AS DOUBLE)
             / sum(len(string_split(text, ' '))) AS chars_per_token,
           CAST(sum(n_chars) AS DOUBLE)
             / sum(len(regexp_extract_all(text,
                 '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]'))) AS chars_per_subword
         FROM documents GROUP BY lang""",

    "q12D_fleiss_kappa" ->
      """WITH langidx AS (
           SELECT lang AS cls,
             CAST(row_number() OVER (ORDER BY lang) - 1 AS BIGINT) AS idx
           FROM (SELECT DISTINCT lang FROM documents)),
         labels AS (
           SELECT d.doc_id,
             CASE WHEN CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
                 || '|r' || CAST(r.rater AS VARCHAR)), 1, 13)) AS BIGINT)
                 % 10 < 6
               THEN d.lang ELSE l.cls END AS label
           FROM documents d
           CROSS JOIN (SELECT unnest(generate_series(0, 2)) AS rater) r
           JOIN langidx l ON l.idx =
             CAST(('0x' || substr(md5(CAST(d.doc_id AS VARCHAR)
               || '|a' || CAST(r.rater AS VARCHAR)), 1, 13)) AS BIGINT) % 5),
         nik AS (
           SELECT doc_id, label, CAST(count(*) AS BIGINT) AS n_ik
           FROM labels GROUP BY doc_id, label),
         s1 AS (
           SELECT CAST(count(*) AS BIGINT) AS n_items,
             CAST(sum(s2 - 3) AS BIGINT) AS s1
           FROM (SELECT doc_id, CAST(sum(n_ik * n_ik) AS BIGINT) AS s2
                 FROM nik GROUP BY doc_id) x),
         sk AS (
           SELECT CAST(count(*) AS BIGINT) AS n_cats,
             sum(CAST(s_k AS HUGEINT) * s_k) AS ssk
           FROM (SELECT label, CAST(sum(n_ik) AS BIGINT) AS s_k
                 FROM nik GROUP BY label) y)
         SELECT n_items, n_cats,
           CAST(s1 AS DOUBLE) / (6.0 * n_items) AS p_bar,
           CAST(ssk AS DOUBLE) / (9.0 * n_items * n_items) AS p_e,
           ((CAST(s1 AS DOUBLE) / (6.0 * n_items))
             - (CAST(ssk AS DOUBLE) / (9.0 * n_items * n_items)))
           / (1.0 - (CAST(ssk AS DOUBLE) / (9.0 * n_items * n_items)))
             AS kappa
         FROM s1 CROSS JOIN sk""",

    "q12E_rank_metrics" ->
      s"""WITH probes AS (
           SELECT doc_id AS q FROM documents WHERE doc_id % 25 = 0
           ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
           LIMIT $Q12eProbeCap),
         cands AS (SELECT doc_id AS d FROM documents),
         scored AS (
           SELECT p.q, c.d,
             CAST(('0x' || substr(md5(CAST(p.q AS VARCHAR) || '|s|'
               || CAST(c.d AS VARCHAR)), 1, 13)) AS BIGINT) AS score_fp,
             CASE CAST(('0x' || substr(md5(CAST(p.q AS VARCHAR) || '|g|'
                 || CAST(c.d AS VARCHAR)), 1, 13)) AS BIGINT) % 16
               WHEN 15 THEN 3 WHEN 14 THEN 2 WHEN 13 THEN 1 WHEN 12 THEN 1
               ELSE 0 END AS rel
           FROM probes p CROSS JOIN cands c WHERE p.q <> c.d),
         g AS (
           SELECT *, CAST((1 << rel) - 1 AS BIGINT) AS gain FROM scored),
         ranked AS (
           SELECT q, d, rel, gain,
             CAST(row_number() OVER (PARTITION BY q
               ORDER BY score_fp DESC, d ASC) AS BIGINT) AS pos
           FROM g QUALIFY pos <= 100),
         dcg AS (
           SELECT q, CAST(sum(CAST(floor(1e6 * CAST(gain AS DOUBLE)
             / (ln(CAST(pos AS DOUBLE) + 1.0) / ln(2.0))) AS BIGINT))
             AS BIGINT) AS dcg_fp
           FROM ranked WHERE pos <= 10 GROUP BY q),
         ideal AS (
           SELECT q, gain,
             CAST(row_number() OVER (PARTITION BY q
               ORDER BY gain DESC, d ASC) AS BIGINT) AS ipos
           FROM ranked QUALIFY ipos <= 10),
         idcg AS (
           SELECT q, CAST(sum(CAST(floor(1e6 * CAST(gain AS DOUBLE)
             / (ln(CAST(ipos AS DOUBLE) + 1.0) / ln(2.0))) AS BIGINT))
             AS BIGINT) AS idcg_fp
           FROM ideal GROUP BY q),
         rr AS (
           SELECT q, min(pos) AS first_rel FROM ranked WHERE rel >= 1
           GROUP BY q),
         per AS (
           SELECT p.q,
             coalesce(d.dcg_fp, 0) AS dcg_fp,
             coalesce(i.idcg_fp, 0) AS idcg_fp,
             r.first_rel,
             CASE WHEN coalesce(i.idcg_fp, 0) > 0
               THEN coalesce(d.dcg_fp, 0) * 1000000000 // i.idcg_fp
               ELSE 0 END AS ndcg_ppb,
             CASE WHEN r.first_rel IS NOT NULL
               THEN 1000000000 // r.first_rel ELSE 0 END AS rr_ppb
           FROM probes p
           LEFT JOIN dcg d ON p.q = d.q
           LEFT JOIN idcg i ON p.q = i.q
           LEFT JOIN rr r ON p.q = r.q)
         SELECT CAST(count(*) AS BIGINT) AS n_queries,
           CAST(sum(CASE WHEN first_rel <= 10 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_hit10,
           CAST(sum(rr_ppb) AS DOUBLE) / count(*) / 1e9 AS mrr,
           CAST(sum(ndcg_ppb) AS DOUBLE) / count(*) / 1e9 AS mean_ndcg10,
           CAST(sum(CASE WHEN first_rel <= 10 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS hit_rate10
         FROM per""",

    "q12F_power_analysis" ->
      """WITH m AS (
           SELECT event_type, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS s,
             CAST(sum(CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS ss
           FROM events GROUP BY event_type),
         d AS (
           SELECT event_type, n,
             CAST(n * ss - s * s AS DOUBLE) AS m2d,
             CAST(s AS DOUBLE) AS sd
           FROM m)
         SELECT event_type, n,
           sd / n / 100 AS mean_dollars,
           m2d / n / (n - 1) AS var_cents,
           CAST(ceil(2.0 * (m2d / n / (n - 1))
             * 2.8015852181129683 * 2.8015852181129683
             / ((0.05 * sd / n) * (0.05 * sd / n))) AS BIGINT) AS n_per_arm
         FROM d""",

    "q130_matryoshka_recall" ->
      s"""WITH e AS (
           SELECT vec_id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
             list_transform(embedding[1:16], x -> CAST(x AS DOUBLE)) AS v16
           FROM embeddings),
         probes AS (
           SELECT vec_id AS q, v AS qv, v16 AS qv16 FROM e
           WHERE vec_id % 25 = 0
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT $EvalProbeCap),
         cands AS (SELECT * FROM e WHERE vec_id % 25 <> 0),
         -- scores are PROJECTED TO SCALARS before the window: if the
         -- ORDER BY list_sum(...) sits inside the window, DuckDB
         -- carries both 64-double list columns through the 2e8-row
         -- window sort (~200 GB of spill at sf10 — it filled the
         -- disk); scored as (q, vec_id, s) the sort buffer is 24 B/row
         scored AS (
           SELECT p.q, c.vec_id,
             list_sum(list_transform(list_zip(p.qv, c.v),
               x -> x[1] * x[2])) AS s_full,
             list_sum(list_transform(list_zip(p.qv16, c.v16),
               x -> x[1] * x[2])) AS s_pre
           FROM probes p CROSS JOIN cands c),
         full_k AS (
           SELECT q, vec_id AS d_full FROM (
             SELECT q, vec_id,
               row_number() OVER (PARTITION BY q
                 ORDER BY s_full DESC, vec_id ASC) AS rn
             FROM (SELECT q, vec_id, s_full FROM scored) t0) t
           WHERE rn <= 10),
         pre_k AS (
           SELECT q, vec_id AS d_pre FROM (
             SELECT q, vec_id,
               row_number() OVER (PARTITION BY q
                 ORDER BY s_pre DESC, vec_id ASC) AS rn
             FROM (SELECT q, vec_id, s_pre FROM scored) t0) t
           WHERE rn <= 10),
         ov AS (
           SELECT f.q, CAST(count(*) AS BIGINT) AS n_overlap
           FROM full_k f JOIN pre_k p ON f.q = p.q AND f.d_full = p.d_pre
           GROUP BY f.q)
         SELECT CAST(count(*) AS BIGINT) AS n_probes,
           CAST(sum(n_overlap) AS BIGINT) AS s_overlap,
           CAST(sum(n_overlap) AS DOUBLE) / count(*) / 10 AS recall_at_10
         FROM ov""",

    "q131_contribution_cap" ->
      """WITH e AS (
           SELECT event_type, user_id,
             CAST(round(value * 100) AS BIGINT) AS cents,
             row_number() OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) <= 8 AS kept
           FROM events),
         pu AS (
           SELECT event_type, user_id,
             CAST(sum(cents) AS BIGINT) AS u_raw,
             CAST(sum(CASE WHEN kept THEN cents ELSE 0 END) AS BIGINT) AS u_cap,
             CAST(count(*) AS BIGINT) AS n_raw,
             CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_cap
           FROM e GROUP BY event_type, user_id)
         SELECT event_type,
           CAST(sum(n_raw) AS BIGINT) AS n_events,
           CAST(sum(n_cap) AS BIGINT) AS n_kept,
           CAST(sum(u_raw) AS BIGINT) AS sum_cents_raw,
           CAST(sum(u_cap) AS BIGINT) AS sum_cents_capped,
           CAST(max(u_raw) AS BIGINT) AS max_user_raw,
           CAST(max(u_cap) AS BIGINT) AS max_user_capped,
           CAST(sum(n_cap) AS DOUBLE) / sum(n_raw) AS kept_frac,
           CAST(max(u_raw) AS DOUBLE) / sum(u_raw) AS max_share_raw,
           CAST(max(u_cap) AS DOUBLE) / sum(u_cap) AS max_share_capped
         FROM pu GROUP BY event_type""",

    "q133_did_estimator" ->
      """WITH cells AS (
           SELECT event_type,
             CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END AS treat,
             CASE WHEN day(ts) >= 16 THEN 1 ELSE 0 END AS post,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(round(value * 100) AS BIGINT)) AS HUGEINT) AS sc,
             CAST(sum(CAST(round(value * 100) AS HUGEINT)
               * CAST(round(value * 100) AS HUGEINT)) AS HUGEINT) AS ssc
           FROM events GROUP BY 1, 2, 3),
         cm AS (
           SELECT event_type, treat, post, n,
             CAST(sc AS DOUBLE) / n AS m,
             CAST(n * ssc - sc * sc AS DOUBLE) / n / (n - 1) / n AS vm
           FROM cells),
         p AS (
           SELECT event_type, CAST(sum(n) AS BIGINT) AS n_events,
             sum(CASE WHEN treat = 1 AND post = 1 THEN m END) AS mt2,
             sum(CASE WHEN treat = 1 AND post = 0 THEN m END) AS mt1,
             sum(CASE WHEN treat = 0 AND post = 1 THEN m END) AS mc2,
             sum(CASE WHEN treat = 0 AND post = 0 THEN m END) AS mc1,
             sum(CASE WHEN treat = 1 AND post = 1 THEN vm END) AS vt2,
             sum(CASE WHEN treat = 1 AND post = 0 THEN vm END) AS vt1,
             sum(CASE WHEN treat = 0 AND post = 1 THEN vm END) AS vc2,
             sum(CASE WHEN treat = 0 AND post = 0 THEN vm END) AS vc1
           FROM cm GROUP BY event_type)
         SELECT event_type, n_events,
           (mt2 - mt1) - (mc2 - mc1) AS did_cents,
           sqrt(vt2 + vt1 + vc2 + vc1) AS se_cents,
           ((mt2 - mt1) - (mc2 - mc1)) / sqrt(vt2 + vt1 + vc2 + vc1)
             AS t_stat
         FROM p""",

    "q134_l_diversity" ->
      """WITH cel AS (
           SELECT lang, n_chars // 200 AS band, source,
             CAST(count(*) AS BIGINT) AS c
           FROM documents GROUP BY 1, 2, 3),
         grp AS (
           SELECT lang, band,
             CAST(count(*) AS BIGINT) AS l_distinct,
             CAST(sum(c) AS BIGINT) AS k,
             CAST(sum(c * CAST(floor(ln(CAST(c AS DOUBLE)) * 1e9) AS BIGINT))
               AS BIGINT) AS s_fp
           FROM cel GROUP BY lang, band),
         h AS (
           SELECT l_distinct, k,
             CAST(CAST(floor(ln(CAST(k AS DOUBLE)) * 1e9) AS BIGINT) * k
               - s_fp AS DOUBLE) / k / 1e9 AS entropy_h
           FROM grp)
         SELECT l_distinct, CAST(count(*) AS BIGINT) AS n_groups,
           CAST(min(k) AS BIGINT) AS min_k,
           min(entropy_h) AS min_entropy
         FROM h GROUP BY l_distinct""",

    "q135_grid_spatial_join" ->
      """WITH cust AS (
           SELECT c_custkey AS id,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|x|c'),
               1, 13)) AS BIGINT) % 1048576 AS x,
             CAST(('0x' || substr(md5(CAST(c_custkey AS VARCHAR) || '|y|c'),
               1, 13)) AS BIGINT) % 1048576 AS y
           FROM customer),
         supp AS (
           SELECT s_suppkey AS sid,
             CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || '|x|s'),
               1, 13)) AS BIGINT) % 1048576 AS sx,
             CAST(('0x' || substr(md5(CAST(s_suppkey AS VARCHAR) || '|y|s'),
               1, 13)) AS BIGINT) % 1048576 AS sy
           FROM supplier),
         sc AS (
           SELECT sid, sx, sy, sx // 65536 AS cx, sy // 65536 AS cy
           FROM supp),
         probes AS (
           SELECT c.id, c.x, c.y,
             c.x // 65536 + o.dx AS cx, c.y // 65536 + o.dy AS cy
           FROM cust c
           CROSS JOIN (SELECT dx.dx, dy.dy
             FROM (SELECT unnest(generate_series(-1, 1)) AS dx) dx,
                  (SELECT unnest(generate_series(-1, 1)) AS dy) dy) o),
         hits AS (
           SELECT p.id, p.x, p.y, s.sid, s.sx, s.sy
           FROM probes p JOIN sc s ON p.cx = s.cx AND p.cy = s.cy
           WHERE abs(p.x - s.sx) <= 60000 AND abs(p.y - s.sy) <= 60000)
         SELECT id AS c_custkey, CAST(count(*) AS BIGINT) AS n_near,
           CAST(min(sid) AS BIGINT) AS nearest_ids_min,
           CAST(sum(abs(x - sx) + abs(y - sy)) AS BIGINT) AS l1_sum
         FROM hits GROUP BY id""",

    "q136_ewma_chart" ->
      """WITH daily AS (
           SELECT event_type, date_trunc('day', ts) AS d,
             CAST(count(*) AS BIGINT) AS n
           FROM events GROUP BY 1, 2),
         lagged AS (
           SELECT event_type, d, n,
             CAST(coalesce(lag(n, 0) OVER w, 0) * 2048
               + coalesce(lag(n, 1) OVER w, 0) * 1024
               + coalesce(lag(n, 2) OVER w, 0) * 512
               + coalesce(lag(n, 3) OVER w, 0) * 256
               + coalesce(lag(n, 4) OVER w, 0) * 128
               + coalesce(lag(n, 5) OVER w, 0) * 64
               + coalesce(lag(n, 6) OVER w, 0) * 32
               + coalesce(lag(n, 7) OVER w, 0) * 16
               + coalesce(lag(n, 8) OVER w, 0) * 8
               + coalesce(lag(n, 9) OVER w, 0) * 4
               + coalesce(lag(n, 10) OVER w, 0) * 2
               + coalesce(lag(n, 11) OVER w, 0) AS BIGINT) AS ewma_fp,
             CAST(CASE WHEN lag(n, 0) OVER w IS NOT NULL THEN 2048 ELSE 0 END
               + CASE WHEN lag(n, 1) OVER w IS NOT NULL THEN 1024 ELSE 0 END
               + CASE WHEN lag(n, 2) OVER w IS NOT NULL THEN 512 ELSE 0 END
               + CASE WHEN lag(n, 3) OVER w IS NOT NULL THEN 256 ELSE 0 END
               + CASE WHEN lag(n, 4) OVER w IS NOT NULL THEN 128 ELSE 0 END
               + CASE WHEN lag(n, 5) OVER w IS NOT NULL THEN 64 ELSE 0 END
               + CASE WHEN lag(n, 6) OVER w IS NOT NULL THEN 32 ELSE 0 END
               + CASE WHEN lag(n, 7) OVER w IS NOT NULL THEN 16 ELSE 0 END
               + CASE WHEN lag(n, 8) OVER w IS NOT NULL THEN 8 ELSE 0 END
               + CASE WHEN lag(n, 9) OVER w IS NOT NULL THEN 4 ELSE 0 END
               + CASE WHEN lag(n, 10) OVER w IS NOT NULL THEN 2 ELSE 0 END
               + CASE WHEN lag(n, 11) OVER w IS NOT NULL THEN 1 ELSE 0 END
               AS BIGINT) AS w_fp
           FROM daily
           WINDOW w AS (PARTITION BY event_type ORDER BY d)),
         mu AS (
           SELECT event_type, CAST(sum(n) AS BIGINT) AS tot,
             CAST(count(*) AS BIGINT) AS days
           FROM daily GROUP BY event_type)
         SELECT l.event_type, l.d, l.n,
           CAST(l.ewma_fp AS DOUBLE) / l.w_fp AS ewma,
           CAST(m.tot AS DOUBLE) / m.days AS mu,
           abs(CAST(l.ewma_fp AS DOUBLE) / l.w_fp
             - CAST(m.tot AS DOUBLE) / m.days)
             > 3.0 * sqrt(CAST(m.tot AS DOUBLE) / m.days) AS ooc
         FROM lagged l JOIN mu m ON l.event_type = m.event_type""",

    "q137_markov_absorption" ->
      """WITH seq AS (
           SELECT event_type AS i,
             lead(event_type) OVER (PARTITION BY user_id
               ORDER BY ts ASC, event_id ASC) AS j
           FROM events),
         trans AS (
           SELECT i, j, CAST(count(*) AS BIGINT) AS t_ij
           FROM seq WHERE j IS NOT NULL GROUP BY i, j),
         rowtot AS (
           SELECT i, CAST(sum(t_ij) AS BIGINT) AS r_i FROM trans GROUP BY i),
         -- HUGEINT numerators (sf10 catch, round 12): t_ij·t_jp·1e9
         -- overflows INT64 once per-cell transition products reach
         -- ~9.2e9 — the Spark side has used DECIMAL(38,0) since v16,
         -- the oracle must widen identically; each floor-divided
         -- term is back under 1e9 so the outputs are unchanged
         onestep AS (
           SELECT t.i,
             CAST(CAST(t.t_ij AS HUGEINT) * 1000000000 // r.r_i AS BIGINT)
               AS p1_fp
           FROM trans t JOIN rowtot r ON t.i = r.i
           WHERE t.j = 'purchase'),
         twostep AS (
           SELECT t.i,
             CAST(sum(CAST(t.t_ij AS HUGEINT) * p.t_ij * 1000000000
               // (CAST(ri.r_i AS HUGEINT) * rj.r_i)) AS BIGINT) AS p2_fp
           FROM trans t
           JOIN trans p ON t.j = p.i AND p.j = 'purchase'
           JOIN rowtot ri ON t.i = ri.i
           JOIN rowtot rj ON t.j = rj.i
           WHERE t.j <> 'purchase'
           GROUP BY t.i)
         SELECT r.i AS state, r.r_i AS n_transitions,
           CAST(coalesce(o.p1_fp, 0) AS BIGINT) AS p1_fp,
           CAST(coalesce(w.p2_fp, 0) AS BIGINT) AS p2_fp,
           CAST(coalesce(o.p1_fp, 0) + coalesce(w.p2_fp, 0) AS DOUBLE) / 1e9
             AS p_absorb_2step
         FROM rowtot r
         LEFT JOIN onestep o ON r.i = o.i
         LEFT JOIN twostep w ON r.i = w.i"""
  )
}
