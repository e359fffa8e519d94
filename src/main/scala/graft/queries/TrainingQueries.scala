package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.functions.{CountMin, HeavyHitters}
import graft.io.Sources.table
import graft.plans.GroupedTopK
import graft.text.TextStats

/** Training-data preparation surface beyond cleaning (q64–q67):
  * chunking documents into model-sized windows, per-doc salient-term
  * extraction (the tf·idf shape kept integer/single-division exact so
  * it hash-checks), and shard-local sequence packing. All three are
  * narrow or partition-local — no all-pairs, no global sort.
  */
object TrainingQueries extends QueryModule {

  /** Chunk size / stride in tokens (overlap = Chunk - Stride). */
  private val Chunk = 32
  private val Stride = 24
  /** Packing budget in tokens per training sequence bin. */
  private val Budget = 512
  /** Packing shards — at production scale packing is per-shard by
    * construction (a global pack order would serialize the corpus
    * through one task); 8 shards keeps the oracle windows small. */
  private val Shards = 8

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Gini concentration of document mass per source — the corpus-
    // balance audit a mixing pipeline runs before weighting (a source
    // whose char mass sits in a few giant docs behaves differently
    // from one with the same total spread evenly). Exact rank formula
    // G = (2·Σ i·xᵢ − (n+1)·Σx) / (n·Σx) over ascending-sorted sizes:
    // every term is an exact integer (row_number · BIGINT chars), the
    // fraction is ONE final IEEE division — hash-stable. The ordered
    // window and the groupBy share the same source partitioning, so
    // it is one shuffle; ties order by doc_id but any permutation of
    // equal sizes leaves Σ i·xᵢ unchanged.
    "qF2_gini_concentration" -> ((s, dir) => {
      val w = Window.partitionBy("source")
        .orderBy(col("n_chars").asc, col("doc_id").asc)
      table(s, dir, "documents")
        .select("source", "doc_id", "n_chars")
        .withColumn("i", row_number().over(w).cast("long"))
        .groupBy("source")
        // rank mass in decimal(38,0): Σ i·n_chars grows ~n²·chars and
        // crosses 2^63 near 3e7 docs per source; both Gini operands
        // stay decimal until the one final IEEE division
        .agg(count(lit(1)).as("n"),
          sum("n_chars").as("total_chars"),
          sum(col("i").cast("decimal(38,0)") * col("n_chars")).as("rank_mass"))
        .select(col("source"), col("n"), col("total_chars"),
          ((lit(2L) * col("rank_mass")
              - (col("n") + 1).cast("decimal(38,0)") * col("total_chars"))
            .cast("double")
            / (col("n").cast("decimal(38,0)") * col("total_chars"))
              .cast("double")).as("gini"))
    }),

    // Neyman optimal allocation — survey sampling's answer to "how
    // do I spend a 1000-row label budget across strata": allocate
    // ∝ N_h·σ_h. The float weight N_h·σ_h quantizes to 1/10² fixed
    // point IMMEDIATELY (one deterministic double per stratum, then
    // floor — 10² keeps w_fp·1000 under 2⁶³ out to ~10⁸ rows per
    // stratum), so the total, every integer-div share, and the
    // largest-remainder top-up are EXACT integer arithmetic — the
    // allocation sums to precisely 1000 on any engine and any
    // partitioning (a float-share allocation can gain or lose a row
    // to ulp). Shape: one moment agg collapses the corpus to ≤6
    // stratum rows; everything after runs on that frame.
    "q10B_neyman_allocation" -> ((s, dir) => {
      val strata = table(s, dir, "lineitem")
        .select(col("l_returnflag").as("flag"),
          col("l_linestatus").as("status"),
          // floor dollars, not cents (qFE's discipline) — and the
          // second moment in decimal(38,0): Σc² still crosses 2^63
          // near 1e8 rows per stratum, 1e4× under a 100 TB lineitem
          floor(col("l_extendedprice")).cast("long").as("c"))
        .groupBy("flag", "status")
        .agg(count(lit(1)).as("n"), sum("c").as("sc"),
          sum((col("c") * col("c")).cast("decimal(38,0)")).as("qc"))
        .withColumn("w_fp", floor(expr(
          """CAST(n AS DOUBLE)
             * sqrt(CAST(n AS DOUBLE) * qc - CAST(sc AS DOUBLE) * sc) / n
             * 100""")).cast("long"))
      // t and the w_fp·1000 remainder arithmetic in decimal: Σw_fp
      // approaches 2^63 itself at trillion-row strata, and ×1000
      // crosses it long before
      // r16 (guide §2.4): t and the largest-remainder shortfall used
      // to be TWO crossJoined scalar aggregates, each re-running the
      // lineitem moment pass (the shortfall branch twice over) —
      // pruned branches defeat exchange reuse. Both now ride windows
      // over the collapsed ≤6-row stratum frame; one corpus pass.
      val wr = Window.orderBy(
        (col("w_fp").cast("decimal(38,0)") * 1000 % col("t")).desc,
        col("flag").asc, col("status").asc)
      val wAll = Window.partitionBy()
      strata
        .withColumn("t",
          sum(col("w_fp").cast("decimal(38,0)")).over(wAll))
        .withColumn("base",
          expr("CAST(w_fp AS DECIMAL(38,0)) * 1000 div t"))
        .withColumn("rnk", row_number().over(wr).cast("long"))
        .withColumn("short",
          lit(1000L) - sum("base").over(wAll))
        .select(col("flag"), col("status"), col("n"), col("w_fp"),
          (col("base") + when(col("rnk") <= col("short"), 1L).otherwise(0L))
            .as("alloc"))
    }),

    // Capture–recapture (Chapman) corpus-size estimate — the "how
    // big is the deduplicated population really" trick: two
    // INDEPENDENT deterministic 10% hash samples; the overlap rate
    // calibrates total size without ever counting the full distinct
    // set. Narrow scan + one conditional agg; the estimate is a
    // pinned integer expression (Chapman's form is exact integer
    // division here), checked against the true count carried in the
    // same row.
    "q10C_capture_recapture" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderkey").cast("string").as("k"))
        .withColumn("in_a",
          Dedup.md5Long(concat(col("k"), lit("|A"))) % 10 === 0)
        .withColumn("in_b",
          Dedup.md5Long(concat(col("k"), lit("|B"))) % 10 === 0)
      o.agg(count(lit(1)).as("n_true"),
          sum(when(col("in_a"), 1L).otherwise(0L)).as("n1"),
          sum(when(col("in_b"), 1L).otherwise(0L)).as("n2"),
          sum(when(col("in_a") && col("in_b"), 1L).otherwise(0L)).as("m"))
        // decimal numerator: (n1+1)(n2+1) wraps int64 once the samples
        // reach ~3e9 each (~3e10 keys at the 1-in-10 rate); Chapman's
        // quotient itself is ≈ N and stays a BIGINT
        .select(col("n_true"), col("n1"), col("n2"), col("m"),
          expr("CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1) div (m + 1) - 1")
            .as("n_est"),
          expr("""CAST(CAST(n1 + 1 AS DECIMAL(38,0)) * (n2 + 1) div (m + 1) - 1
              AS DOUBLE) / n_true""")
            .as("est_ratio"))
    }),

    // Information gain of each candidate feature for predicting
    // order status — the feature-selection screen run before any
    // tree/NB fit. IG = H(label) − H(label|feature), computed from
    // COUNTS only: each entropy term c·ln(c/n) is one deterministic
    // double immediately floored to 1/10⁶ fixed point, so the sums
    // over (bin, label) cells are associative BIGINTs and the final
    // IG is a pinned division — no order-dependent float
    // accumulation (Σ of raw double terms would never hash-check).
    // Shape: two vocabulary-bounded count aggs (cells ≤ bins×labels)
    // + a broadcast label-marginal row.
    "q10D_info_gain" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderstatus").as("label"),
          col("o_orderpriority").as("f_priority"),
          month(col("o_orderdate")).cast("string").as("f_month"))
      val long = o.select(explode(array(
          struct(lit("priority").as("feature"), col("f_priority").as("bin"),
            col("label")),
          struct(lit("month").as("feature"), col("f_month").as("bin"),
            col("label")))).as("x"))
        .select(col("x.feature").as("feature"), col("x.bin").as("bin"),
          col("x.label").as("label"))
      val cells = long.groupBy("feature", "bin", "label")
        .agg(count(lit(1)).as("c"))
      val bins = cells.groupBy("feature", "bin").agg(sum("c").as("nb"))
      val cond = cells.join(bins, Seq("feature", "bin"))
        .withColumn("t_fp", floor(col("c") * graft.functions.LnExact(
          col("c").cast("double") / col("nb")) * lit(1e6)).cast("long"))
        .groupBy("feature")
        .agg(countDistinct(col("bin")).as("n_bins"),
          sum("c").as("n_rows"), sum("t_fp").as("cond_fp"))
      val marg = o.groupBy("label").agg(count(lit(1)).as("cl"))
        .withColumn("nn", sum("cl").over(Window.partitionBy()))
        .withColumn("t_fp", floor(col("cl") * graft.functions.LnExact(
          col("cl").cast("double") / col("nn")) * lit(1e6)).cast("long"))
        .agg(max("nn").as("nn"), sum("t_fp").as("marg_fp"))
      cond.crossJoin(broadcast(marg))
        .select(col("feature"), col("n_bins"), col("n_rows"),
          col("cond_fp"), col("marg_fp"),
          expr("CAST(cond_fp - marg_fp AS DOUBLE) / n_rows / 1e6").as("info_gain"))
    }),

    // Centroid silhouette score per label — the clustering-quality /
    // label-coherence eval an embedding pipeline runs after
    // assignment: a = distance to own centroid, b = nearest other
    // centroid, s = (b−a)/max(a,b). Never materializes centroids as
    // floats: with 1/65536 fixed-point components (qF0's
    // discipline), ‖x−S/n‖² expands to qq − 2·x·S/n + ‖S‖²/n² where
    // qq, x·S, ‖S‖² are EXACT BIGINTs (x·S ≤ 16·2³²·n; ‖S‖²
    // bounded for clusters to ~10⁶ members, past that ship it
    // double) — the distance is then a pinned IEEE sequence, so the
    // per-label rollup hash-checks. Shape: point⋈centroid is a
    // dim-key join fanning ×k (k=10 labels), all aggs map-side
    // combinable; nothing quadratic in corpus size, and the means
    // come from exact micro-unit sums, not order-dependent float
    // addition.
    "q104_silhouette" -> ((s, dir) => {
      val long = table(s, dir, "embeddings")
        .select(col("vec_id"), col("label"),
          posexplode(expr(
            "transform(slice(embedding, 1, 16), x -> CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))"))
            .as(Seq("d", "q")))
      // `cent` (k×16 rows) is read twice (ss + the d2 join); a pin
      // measured no faster (noop, sf0.1, local[4]). The separate
      // per-vector `qq` pass (a third full explode + a vec_id-keyed
      // shuffle join) folds into the d2 aggregate for free: grouped by
      // (vec_id, label, clabel), every dim d appears exactly once (cent
      // has one row per (clabel, d)), so sum(q·q) within the group IS
      // qq — exact integer arithmetic, same value on every clabel branch.
      val cent = long.groupBy(col("label").as("clabel"), col("d"))
        .agg(sum("q").as("sd"), count(lit(1)).as("nc"))
      val ss = cent.groupBy("clabel")
        .agg(sum(col("sd") * col("sd")).as("ss"), max("nc").as("nc"))
      val d2 = long.join(broadcast(cent), Seq("d"))
        .groupBy("vec_id", "label", "clabel")
        .agg(sum(col("q") * col("sd")).as("xs"),
          sum(col("q") * col("q")).as("qq"))
        .join(broadcast(ss), Seq("clabel"))
        .withColumn("d2", greatest(expr(
          """CAST(qq AS DOUBLE) - 2.0 * CAST(xs AS DOUBLE) / nc
             + CAST(ss AS DOUBLE) / (CAST(nc AS DOUBLE) * CAST(nc AS DOUBLE))"""),
          lit(0.0)))
      d2.groupBy("vec_id", "label")
        .agg(max(when(col("clabel") === col("label"), col("d2"))).as("a2"),
          min(when(col("clabel") =!= col("label"), col("d2"))).as("b2"))
        .withColumn("sil", expr(
          "(sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2))"))
        .groupBy("label")
        .agg(count(lit(1)).as("n"),
          sum(floor(col("sil") * 1e6).cast("long")).as("sil_micro"),
          sum(when(col("sil") < 0, 1L).otherwise(0L)).as("n_neg"))
        .select(col("label"), col("n"), col("sil_micro"), col("n_neg"),
          (col("sil_micro").cast("double") / (col("n").cast("double") * 1e6))
            .as("mean_sil"))
    }),

    // GBDT histogram split-finding — the inner loop of every
    // distributed tree learner (XGBoost/LightGBM hist mode): bin each
    // feature, accumulate per-bin label sums, scan the tiny histogram
    // for the variance-reduction-optimal split. Scale shape: rows
    // expand ×|features| via ONE narrow explode, then a map-side-
    // combinable groupBy collapses to ≤61 (feature, bin) rows — the
    // cumulative scans and argmax run on that collapsed frame, never
    // on data. Exactness: bins and label cents are integers, so every
    // histogram cell is an associative BIGINT sum; the gain
    // Σ_L²/n_L + Σ_R²/n_R − Σ²/n is a PINNED IEEE sequence on those
    // exact integers, identical on any engine or partitioning.
    "qF9_gbdt_hist" -> ((s, dir) => {
      val binned = table(s, dir, "lineitem")
        .select(round(col("l_extendedprice") * 100).cast("long").as("cents"),
          col("l_quantity").cast("long").as("qty"),
          round(col("l_discount") * 100).cast("long").as("disc"))
        .select(explode(array(
          struct(lit("quantity").as("feature"), col("qty").as("bin"),
            col("cents")),
          struct(lit("discount").as("feature"), col("disc").as("bin"),
            col("cents")))).as("x"))
        .select(col("x.feature").as("feature"), col("x.bin").as("bin"),
          col("x.cents").as("cents"))
        .groupBy("feature", "bin")
        .agg(count(lit(1)).as("n"), sum("cents").as("s"))
      val wc = Window.partitionBy("feature").orderBy(col("bin").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy("feature")
      val gains = binned
        .withColumn("n_l", sum("n").over(wc))
        .withColumn("s_l", sum("s").over(wc))
        .withColumn("n_t", sum("n").over(wt))
        .withColumn("s_t", sum("s").over(wt))
        .withColumn("n_r", col("n_t") - col("n_l"))
        .withColumn("s_r", col("s_t") - col("s_l"))
        .filter(col("n_r") > 0)
        .withColumn("gain", expr(
          """CAST(s_l AS DOUBLE) * s_l / n_l
             + CAST(s_r AS DOUBLE) * s_r / n_r
             - CAST(s_t AS DOUBLE) * s_t / n_t"""))
      val wr = Window.partitionBy("feature")
        .orderBy(col("gain").desc, col("bin").asc)
      gains.withColumn("rn", row_number().over(wr)).filter(col("rn") === 1)
        .select(col("feature"), col("bin").as("split_bin"),
          col("n_l"), col("n_r"), col("s_l"), col("s_r"), col("gain"))
    }),

    // Poisson bootstrap — THE way confidence intervals ship at data
    // scale (each replicate weights every row by an independent
    // Poisson(1) draw; no resampling pass over the corpus, no
    // per-replicate shuffle). 32 replicates ride one narrow ×32
    // explode into one map-side-combinable agg. Determinism: the
    // draw inverts the Poisson(1) CDF (literal thresholds, truncated
    // at 6 — P(>6) ≈ 6e-4 documented) on an md5-derived uniform
    // keyed (doc_id, replicate) — bit-identical on both engines, so
    // replicate sums are exact BIGINTs and the mean is one final
    // division.
    "qFA_poisson_bootstrap" -> ((s, dir) => {
      val two53 = 9007199254740992L
      val cdf = Seq(0.36787944117144233, 0.7357588823428847,
        0.9196986029286058, 0.9810118431238462, 0.9963401531726563,
        0.9994058151824183)
      table(s, dir, "documents")
        .select(col("doc_id"), col("n_chars"),
          explode(sequence(lit(0), lit(31))).as("r"))
        .withColumn("r", col("r").cast("long"))
        .withColumn("u", (Dedup.md5Long(
            concat(col("doc_id").cast("string"), lit("|"),
              col("r").cast("string")))
            % two53).cast("double") / lit(two53.toDouble))
        .withColumn("w",
          when(col("u") < cdf(0), 0L).when(col("u") < cdf(1), 1L)
            .when(col("u") < cdf(2), 2L).when(col("u") < cdf(3), 3L)
            .when(col("u") < cdf(4), 4L).when(col("u") < cdf(5), 5L)
            .otherwise(6L))
        .groupBy("r")
        .agg(sum("w").as("n_sampled"),
          sum(when(col("w") > 0, 1L).otherwise(0L)).as("docs_hit"),
          sum(col("w") * col("n_chars")).as("mass"))
        .select(col("r"), col("n_sampled"), col("docs_hit"), col("mass"),
          (col("mass").cast("double") / col("n_sampled").cast("double"))
            .as("mean_chars"))
    }),

    // Pearson correlation matrix over the numeric lineitem features —
    // the EDA / feature-selection primitive. Shape: ONE narrow pass
    // computes all 15 moment sums (4 firsts + 10 cross/square
    // products + count) as a single map-side-partial aggregate — a
    // 1-row result that stack() unpivots into the 10 matrix cells.
    // The first cut exploded each row into its 10 index pairs and
    // grouped; that shuffled 10× the corpus and benched 7.7 s where
    // this form is a flat scan (the qA2 lesson: keep Expand/explode
    // off the wide row). Exactness: all four features are
    // integer-exact (quantity, floor dollars, discount/tax
    // hundredths), so every moment is an associative BIGINT (Σx² ≤
    // 1.1e10·rows — safe under 2⁶³ past 10⁸ rows); corr is a pinned
    // IEEE sequence on those integers.
    "qFE_corr_matrix" -> ((s, dir) => {
      val feats = Seq(
        "quantity" -> "CAST(l_quantity AS BIGINT)",
        "price_usd" -> "CAST(floor(l_extendedprice) AS BIGINT)",
        "discount_c" -> "CAST(round(l_discount * 100) AS BIGINT)",
        "tax_c" -> "CAST(round(l_tax * 100) AS BIGINT)")
      val base = table(s, dir, "lineitem").select(
        feats.zipWithIndex.map { case ((_, e), i) => expr(e).as(s"f$i") }: _*)
      val moments =
        Seq(count(lit(1)).as("n")) ++
          (0 to 3).map(i => sum(col(s"f$i")).as(s"s$i")) ++
          (for (i <- 0 to 3; j <- i to 3)
            yield sum(col(s"f$i") * col(s"f$j")).as(s"p${i}${j}"))
      val cells = (for (i <- 0 to 3; j <- i to 3) yield
        s"'${feats(i)._1}', '${feats(j)._1}', s$i, s$j, p${i}${j}, p${i}${i}, p${j}${j}")
        .mkString(",\n             ")
      base.agg(moments.head, moments.tail: _*)
        .select(col("n"), expr(
          s"""stack(10,
             $cells) AS (f1, f2, s_x, s_y, s_xy, s_xx, s_yy)"""))
        .withColumn("corr", expr(
          """(CAST(n AS DOUBLE) * s_xy - CAST(s_x AS DOUBLE) * s_y)
             / (sqrt(CAST(n AS DOUBLE) * s_xx - CAST(s_x AS DOUBLE) * s_x)
                * sqrt(CAST(n AS DOUBLE) * s_yy - CAST(s_y AS DOUBLE) * s_y))"""))
        .select(col("f1"), col("f2"), col("n"), col("s_x"), col("s_y"),
          col("s_xy"), col("s_xx"), col("s_yy"), col("corr"))
    }),

    // k-anonymity / l-diversity audit — the privacy gate a training-
    // data release runs before shipping: for each re-identification
    // threshold k, how many rows sit in a quasi-identifier class
    // smaller than k, and what is the worst-case diversity of the
    // sensitive column? QI = (nation, acctbal floored to $1000);
    // sensitive = mktsegment. Scale shape: ONE map-side-combinable
    // groupBy builds the class table (bounded: |nations|·|buckets| ≈
    // 275 classes regardless of row count), then a tiny explode of
    // the 4 literal thresholds cross-joins against it — the audit
    // never touches raw rows twice and never shuffles them at all
    // beyond the one class agg. All counts are exact integers; the
    // suppression rate is one final IEEE division.
    "qF5_k_anonymity" -> ((s, dir) => {
      val classes = table(s, dir, "customer")
        .select(col("c_nationkey"),
          floor(col("c_acctbal") / 1000).cast("long").as("bal_bucket"),
          col("c_mktsegment"))
        .groupBy("c_nationkey", "bal_bucket")
        .agg(count(lit(1)).as("cn"),
          countDistinct(col("c_mktsegment")).as("cl"))
      val ks = s.range(1).select(explode(
        array(lit(2L), lit(5L), lit(10L), lit(25L))).as("k"))
      ks.crossJoin(classes)
        .groupBy("k")
        .agg(count(lit(1)).as("n_classes"),
          sum(when(col("cn") < col("k"), 1L).otherwise(0L)).as("classes_at_risk"),
          sum(when(col("cn") < col("k"), col("cn")).otherwise(0L)).as("rows_at_risk"),
          sum(col("cn")).as("n_rows"),
          min(col("cl")).as("min_l_diversity"))
        .select(col("k"), col("n_classes"), col("classes_at_risk"),
          col("rows_at_risk"), col("min_l_diversity"),
          (col("rows_at_risk").cast("double") / col("n_rows").cast("double"))
            .as("suppression_rate"))
    }),

    // Gram matrix (Xᵀ X) over the first 16 embedding dims — the
    // normal-equations / PCA primitive: every linear model, ridge
    // fit, and covariance estimate at 100 TB reduces to this one
    // aggregate. Scale shape: each row expands to its d(d+1)/2 = 136
    // upper-triangle products via ONE narrow nested-transform
    // expression (no self-join, no per-row Cartesian), then a single
    // map-side-combinable groupBy(i, j) — the shuffle carries at
    // most 136 rows per task regardless of corpus size. Exactness:
    // components quantize to 1/65536 fixed-point (qC4's discipline),
    // so sums are associative integers — bit-identical on 1 executor
    // or 1000 — and |q| ≤ 2¹⁶ bounds each product at 2³², 10⁹ rows
    // at 2⁶² — no overflow at any plausible scale.
    "qF0_gram_matrix" -> ((s, dir) => {
      table(s, dir, "embeddings")
        .select(expr(
          "transform(slice(embedding, 1, 16), x -> CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))")
          .as("v"))
        .select(explode(expr(
          """flatten(transform(sequence(0, 15), i ->
               transform(sequence(i, 15), j ->
                 named_struct('i', i, 'j', j, 'p', v[i] * v[j]))))"""))
          .as("pr"))
        .select(col("pr.i").as("i"), col("pr.j").as("j"), col("pr.p").as("p"))
        .groupBy("i", "j")
        .agg(count(lit(1)).as("n"), sum("p").as("s_xy"))
    }),

    // Weighted sampling without replacement (Efraimidis–Spirakis
    // A-ES): each doc draws key = ln(u)/w (u a deterministic
    // md5-derived uniform in (0,1], w = n_chars), and the k largest
    // keys per source are EXACTLY a w-weighted sample without
    // replacement — the importance-sampling primitive for corpus
    // mixing. Scale shape: a narrow map to compute keys, then the
    // GroupedTopK operator's partial per-key heaps (≤k rows per
    // source per task reach the exchange — never a full sort of the
    // corpus). Bit-exact across engines: u is an integer over 2^53
    // (exact double), LnExact is correctly-rounded Math.log matching
    // DuckDB's glibc ln, and the final division is one IEEE op; the
    // key itself is emitted and hash-checked.
    "qED_weighted_reservoir" -> ((s, dir) => {
      val two53 = 9007199254740992L
      val d = table(s, dir, "documents")
        .select(col("source"), col("doc_id"), col("n_chars"))
        .withColumn("u",
          ((graft.dedup.Dedup.md5Long(col("doc_id").cast("string")) % two53)
            + lit(1L)).cast("double") / lit(two53.toDouble))
        .withColumn("skey",
          graft.functions.LnExact(col("u")) / col("n_chars"))
        .select("source", "doc_id", "n_chars", "skey")
      GroupedTopK.topK(d, Seq(col("source")),
          Seq(col("skey").desc, col("doc_id").asc), 5)
        .select("source", "doc_id", "n_chars", "skey")
    }),

    // Top-p (nucleus) selection per language: keep the smallest
    // prefix of docs — largest first — whose cumulative character
    // mass reaches 90% of the group total. The data-mixing primitive
    // for "keep the bulk, drop the long tail of tiny docs". INTEGER-
    // exact thresholding: a row is selected iff
    // 10·(cum − own) < 9·total, so no float ratio ever exists to
    // round; doc_id breaks size ties deterministically. One shuffle
    // (the per-group ordered window); the rollup after is per-group.
    "qDF_nucleus_select" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("lang"), col("doc_id"), col("n_chars"))
      val w = Window.partitionBy("lang")
        .orderBy(col("n_chars").desc, col("doc_id").asc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wp = Window.partitionBy("lang")
      d.withColumn("cum", sum(col("n_chars")).over(w))
        .withColumn("total", sum(col("n_chars")).over(wp))
        .withColumn("sel",
          lit(10L) * (col("cum") - col("n_chars")) < lit(9L) * col("total"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(when(col("sel"), 1L).otherwise(0L)).as("n_sel"),
          sum(when(col("sel"), col("n_chars")).otherwise(0L)).as("sel_chars"),
          max(col("total")).as("total_chars"))
    }),

    // Exact AUC (Mann–Whitney rank-sum) per group — the classifier /
    // quality-score evaluation data pipelines run over billions of
    // scored rows. Tie-safe and INTEGER-exact end-to-end: rank() is
    // the tie group's min rank, so twice-the-average-rank is the
    // integer 2·rank + cnt − 1; summing it over positives gives
    // u2 = 2·U, and AUC is ONE float division of exact longs (the
    // bit-safe ratio pattern). One shuffle: the per-group rank sort;
    // everything after is a per-group agg — no pairwise positive ×
    // negative comparison, which is the naive O(n²) AUC shape.
    "qDD_auc_ranksum" -> ((s, dir) => {
      val o = table(s, dir, "orders")
        .select(col("o_orderstatus").as("status"),
          when(col("o_orderpriority") === "1-URGENT", 1L).otherwise(0L).as("pos"),
          round(col("o_totalprice") * 100).cast("long").as("cents"))
      val w = Window.partitionBy("status").orderBy(col("cents").asc)
      val wt = Window.partitionBy("status", "cents")
      o.withColumn("r2",
          lit(2L) * rank().over(w).cast("long")
            + count(lit(1)).over(wt) - lit(1L))
        .groupBy("status")
        .agg(sum(col("pos")).as("n_pos"),
          (count(lit(1)) - sum(col("pos"))).as("n_neg"),
          (sum(when(col("pos") === 1L, col("r2")).otherwise(0L))
            - sum(col("pos")) * (sum(col("pos")) + 1L)).as("u2"))
        .select(col("status"), col("n_pos"), col("n_neg"), col("u2"),
          // single-class guard: a status with no positives (or no
          // negatives) has no rank-sum AUC — NULL, not 0/0 NaN
          when(col("n_pos") > 0 && col("n_neg") > 0,
            col("u2").cast("double")
              / (lit(2.0) * col("n_pos") * col("n_neg"))).as("auc"))
    }),

    // Overlapping token-window chunking: one output row per training
    // chunk, pure generate (posexplode of the start sequence + slice)
    // — no shuffle at all.
    "q75_doc_chunks" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          posexplode(expr(s"sequence(0, size(w) - 1, $Stride)")).as(Seq("chunk_idx", "start")),
          col("w"))
        .select(col("doc_id"), col("chunk_idx"),
          concat_ws(" ", expr(s"slice(w, start + 1, $Chunk)")).as("chunk"),
          least(lit(Chunk), size(col("w")) - col("start")).as("n_chunk_tokens"))),

    // Per-doc top-3 salient terms by tf/df — the tf·idf ordering with
    // the df log dropped (tf/df is monotone in tf·idf for fixed doc
    // and bit-exact: two exact integers, one IEEE division). Top-k per
    // doc runs on GroupedTopK, so the heavy tail (every doc × every
    // term) never reaches a sort.
    "q76_term_salience" -> ((s, dir) => {
      val pairs = table(s, dir, "documents")
        .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("term"))
      val tf = pairs.groupBy("doc_id", "term").agg(count(lit(1)).as("tf"))
      val df = pairs.distinct().groupBy("term").agg(count(lit(1)).as("df"))
      val sal = tf.join(df, "term")
        .withColumn("salience", col("tf") / col("df"))
      GroupedTopK.topK(sal, Seq(col("doc_id")),
          Seq(col("salience").desc, col("term").asc), 3)
        .select("doc_id", "term", "tf", "df", "salience")
    }),

    // BM25 lexical retrieval (Robertson–Spärck Jones; k1=1.2, b=0.75)
    // — top-10 documents for a fixed term query. Scale shape: tf is
    // the only corpus-sized shuffle (groupBy doc,term after a
    // selective term filter); df (|terms| rows) and the corpus stats
    // (1 row) broadcast; the final top-k plans as
    // TakeOrderedAndProject, never a full sort. Float discipline: all
    // inputs are exact integers; each per-term score applies the
    // IDENTICAL parenthesized op sequence in both engines, the
    // per-doc sum is pinned to textual term order via conditional
    // aggregates (never an unordered SUM of doubles), and ln runs
    // through [[graft.functions.LnExact]] (Math.log, correctly
    // rounded) because the builtin log's StrictMath/fdlibm value
    // disagrees with DuckDB by 1 ulp on this idf domain — so the
    // hash check is exact, not approximate.
    "q85_bm25_topk" -> ((s, dir) => {
      val terms = Seq("hash", "join", "spark", "stream")
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokens(col("text")).as("w"))
      val stats = docs.agg(count(lit(1)).as("n_docs"),
        sum(size(col("w")).cast("long")).as("sum_len"))
      // len rides the explode so per-doc length needs NO second join
      // against the corpus — tf's groupBy is the only corpus-sized
      // shuffle in the query
      val pairs = docs
        .select(col("doc_id"), size(col("w")).cast("long").as("len"),
          explode(col("w")).as("term"))
        .filter(col("term").isin(terms: _*))
      val tf = pairs.groupBy("doc_id", "term")
        .agg(count(lit(1)).as("tf"), max(col("len")).as("len"))
      val df = pairs.select("doc_id", "term").distinct()
        .groupBy("term").agg(count(lit(1)).as("df"))
      val norm = col("len").cast("double") /
        (col("sum_len").cast("double") / col("n_docs"))
      val score = graft.functions.LnExact(
        (col("n_docs") - col("df") + lit(0.5)) / (col("df") + lit(0.5)) + lit(1.0)) *
        ((col("tf") * lit(2.2)) /
          (col("tf") + lit(1.2) * (lit(0.25) + lit(0.75) * norm)))
      val perTerm = terms.map(t =>
        max(when(col("term") === t, col("score"))).as(s"s_$t"))
      val bm25 = terms.map(t => coalesce(col(s"s_$t"), lit(0.0)))
        .reduceLeft(_ + _) // textual term order — the pinned fold
      tf.join(broadcast(df), "term")
        .crossJoin(broadcast(stats))
        .withColumn("score", score)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"), perTerm: _*)
        .select(col("doc_id"), col("n_terms"), bm25.as("bm25"))
        .orderBy(col("bm25").desc, col("doc_id").asc)
        .limit(10)
    }),

    // Deterministic weighted sampling (sequential Poisson / priority
    // sampling, Ohlsson '98): priority ξ = u / w with u an EXACT
    // uniform from the doc's md5 (13 hex digits / 16^13 — a power-of-
    // two divisor, so u and ξ are each one exact IEEE op and hash
    // identically cross-engine); keep the k smallest ξ. Higher-quality
    // docs get proportionally more selection mass, the sample is
    // re-runnable and partition-invariant, and the global top-k plans
    // as TakeOrderedAndProject — no full sort at scale.
    "q7E_weighted_sample" -> ((s, dir) => {
      val u = (conv(substring(md5(col("doc_id").cast("string")), 1, 13), 16, 10)
        .cast("double") / lit(math.pow(16.0, 13)))
      table(s, dir, "documents")
        .withColumn("quality", TextStats.qualityScoreMilli(col("text")))
        .withColumn("xi", u / col("quality"))
        .orderBy(col("xi").asc, col("doc_id").asc)
        .limit(50)
        .select("doc_id", "quality", "xi")
    }),

    // Heavy-hitter vocabulary per shard through the Misra–Gries
    // TypedImperativeAggregate. Capacity must exceed the per-shard
    // vocabulary for the sketch's EXACT regime (where it hash-checks
    // against plain count/top-k SQL); below that the counts become
    // lower bounds within n/(capacity+1) AND partition-order-
    // dependent — the sf10 sweep caught exactly that: measured
    // per-shard vocab 31 (sf0.1) → 133 (sf1) → 1153 (sf10), ~10×/
    // decade, and the old capacity of 1024 silently left the exact
    // regime at sf10 (80v80 rows, hash mismatch — the q7C capacity
    // class). 16384 covers sf100's projected ~12k; state stays
    // min(distinct, capacity) entries, so small-SF memory is
    // unchanged. At real production scale the same aggregate runs
    // with capacity « vocabulary deliberately, in bounded memory.
    "q78_heavy_hitters" -> ((s, dir) =>
      table(s, dir, "documents")
        .select((col("doc_id") % 16).as("shard"),
          explode(TextStats.tokens(col("text"))).as("term"))
        .groupBy("shard")
        .agg(HeavyHitters(col("term"), 5, 16384).as("hh"))
        .select(col("shard"), posexplode(col("hh")).as(Seq("rank", "e")))
        .select(col("shard"), col("rank"),
          col("e.term").as("term"), col("e.cnt").as("cnt"))),

    // Count-Min frequency sketch (4×16 counters — width deliberately
    // far below the vocabulary so collisions force real
    // overestimates): one narrow build pass with constant state,
    // sketch broadcast, estimates composed from built-in functions
    // (least of element_at per md5-word row). Output pins every
    // estimate AND the never-underestimate guarantee against the
    // exact counts; the counter array is bit-mirrored by the oracle.
    "q86_countmin_freq" -> ((s, dir) => {
      val (d, w) = (4, 16)
      val toks = table(s, dir, "documents")
        .select(explode(TextStats.tokens(col("text"))).as("term"))
      val sketch = toks.agg(CountMin.build(col("term"), d, w).as("cms"))
      toks.groupBy("term").agg(count(lit(1)).as("exact_cnt"))
        .crossJoin(broadcast(sketch))
        .select(col("term"), col("exact_cnt"),
          CountMin.estimate(col("cms"), col("term"), d, w).as("cms_est"))
        .withColumn("never_under", col("cms_est") >= col("exact_cnt"))
    }),

    // Frequency-ranked dictionary (label) encoding — the categorical
    // feature-engineering step every ML pipeline runs before
    // training: each column's values get dense integer codes by
    // (count DESC, value) rank, so code 0 is always the mode and
    // code cardinality equals the dictionary size. Two columns ride
    // ONE pass (array-of-structs explode → narrow), the rank window
    // runs per column over the |domain|-row collapsed frame (the
    // collapse-then-window discipline), and the emitted artifact IS
    // the dictionary — at 100 TB it broadcasts back to encode the
    // corpus without a second shuffle.
    "qD8_label_encode" -> ((s, dir) => {
      val long = table(s, dir, "orders")
        .select(explode(array(
          struct(lit("priority").as("c"), col("o_orderpriority").as("v")),
          struct(lit("status").as("c"), col("o_orderstatus").as("v")))).as("e"))
        .select(col("e.c").as("c"), col("e.v").as("v"))
      val w = Window.partitionBy("c").orderBy(col("n").desc, col("v").asc)
      long.groupBy("c", "v").agg(count(lit(1)).as("n"))
        .withColumn("code", row_number().over(w) - 1)
    }),

    // CMS join-size estimation (Cormode–Muthukrishnan §4.2: the
    // inner product of two Count-Min sketches over-estimates
    // Σ_k cntA(k)·cntB(k), the equi-join cardinality) — the
    // OPTIMIZER-STATISTICS use of the sketch family: a planner
    // choosing broadcast vs shuffle for a 100 TB join can't afford
    // to count the true join size, but two one-pass 2 MB sketches
    // (4 × 65536 BIGINT counters each)
    // built map-side give a never-under estimate of it. Both
    // sketches, the per-row inner products, the min-over-rows
    // estimate, AND the exact join size are integer-exact and
    // mirrored by the oracle (q86's md5-word hash construction), so
    // the whole estimator hash-checks.
    "qCF_cms_join_size" -> ((s, dir) => {
      val (d, w) = (4, 65536)
      val a = table(s, dir, "events")
        .select(col("user_id").cast("string").as("k"))
      val b = table(s, dir, "orders")
        .select(col("o_custkey").cast("string").as("k"))
      val sa = a.agg(CountMin.build(col("k"), d, w).as("cms_a"))
      val sb = b.agg(CountMin.build(col("k"), d, w).as("cms_b"))
      val exact = a.groupBy("k").agg(count(lit(1)).as("ca"))
        .join(b.groupBy("k").agg(count(lit(1)).as("cb")), Seq("k"))
        .agg(sum(col("ca") * col("cb")).as("exact_size"))
      exact.crossJoin(broadcast(sa)).crossJoin(broadcast(sb))
        .withColumn("prod",
          zip_with(col("cms_a"), col("cms_b"), (x, y) => x * y))
        .withColumn("cms_est", (0 until d).map(r =>
            expr(s"aggregate(slice(prod, ${r * w + 1}, $w), 0L, (acc, x) -> acc + x)"))
          .reduce(least(_, _)))
        .select(col("exact_size"), col("cms_est"),
          (col("cms_est") >= col("exact_size")).as("never_under"))
    }),

    // Unigram log-likelihood scoring — the perplexity-proxy quality
    // filter a training corpus is screened with (low avg logprob =
    // gibberish / OOD): logprob(doc) = Σ_pos ln(cnt(term)/N). Scale
    // shape: the vocabulary aggregate broadcasts, the per-doc fold is
    // one groupBy; nothing quadratic. Float discipline (the q85
    // playbook): LnExact for correctly-rounded ln, and the per-doc
    // sum folds in TOKEN-POSITION order on both engines —
    // sort_array(collect_list(struct(pos, lp))) + aggregate here,
    // list(lp ORDER BY pos) + list_sum in the oracle — so the DOUBLE
    // is bit-exact, not approximately compared.
    "q89_unigram_logprob" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokens(col("text")).as("w"))
      val pairs = docs.select(col("doc_id"),
        posexplode(col("w")).as(Seq("pos", "term")))
      val counts = pairs.groupBy("term").agg(count(lit(1)).as("cnt"))
      val total = pairs.agg(count(lit(1)).as("n_total"))
      pairs
        .join(broadcast(counts), "term")
        .crossJoin(broadcast(total))
        .withColumn("lp",
          graft.functions.LnExact(col("cnt").cast("double") / col("n_total")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_toks"),
          aggregate(sort_array(collect_list(struct(col("pos"), col("lp")))),
            lit(0.0), (acc, x) => acc + x.getField("lp")).as("logprob"))
        .select(col("doc_id"), col("n_toks"), col("logprob"),
          (col("logprob") / col("n_toks")).as("avg_logprob"))
    }),

    // Per-document token-distribution Shannon entropy — the gibberish
    // / boilerplate screen (low entropy = stutter or template text,
    // near-max = random token soup): H = ln(n) − Σ c·ln(c) / n over
    // the doc's term frequencies. Complements q65's repetition counts
    // (entropy sees the WHOLE distribution, not just the top
    // duplicate) and q89's corpus-relative logprob (entropy is
    // corpus-free). Scale shape: one (doc, term) groupBy, then one
    // per-doc agg — no broadcast, nothing corpus-global. Float
    // discipline (q89 playbook): c and n are exact integers, LnExact
    // is correctly rounded, the Σ folds in TERM-SORTED order on both
    // engines, and the final ln(n) − Σ/n is the same two IEEE ops —
    // the DOUBLE hash-matches exactly.
    "q9A_token_entropy" -> ((s, dir) => {
      val tf = table(s, dir, "documents")
        .select(col("doc_id"), explode(TextStats.tokens(col("text"))).as("term"))
        .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      tf.groupBy("doc_id")
        .agg(sum(col("c")).as("n_toks"),
          count(lit(1)).as("n_distinct"),
          aggregate(sort_array(collect_list(struct(col("term"), col("c")))),
            lit(0.0),
            (acc, x) => acc + x.getField("c").cast("double") *
              graft.functions.LnExact(x.getField("c").cast("double")))
            .as("clnc"))
        .select(col("doc_id"), col("n_toks"), col("n_distinct"),
          (graft.functions.LnExact(col("n_toks").cast("double"))
            - col("clnc") / col("n_toks")).as("entropy"))
    }),

    // Shard-local greedy sequence packing: docs are packed into
    // Budget-token bins in doc_id order WITHIN a shard (cumulative sum
    // window); bin id = start-offset div Budget. Shard-local keeps the
    // window partition-parallel — the 100 TB shape, not a toy global
    // order.
    "q77_seq_pack" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
        .select(col("doc_id"),
          (col("doc_id") % Shards).as("shard"),
          size(TextStats.tokens(col("text"))).as("n_tokens"))
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      d.withColumn("cum", sum("n_tokens").over(w))
        .select(col("doc_id"), col("shard"), col("n_tokens"),
          expr(s"(cum - n_tokens) div $Budget").as("bin"))
    }),

    // Domain-mixture (temperature) sampling: multilingual/multi-source
    // training runs downweight oversized domains by sampling each
    // source at rate ∝ 1/√tokens (α = 0.5 temperature, the mT5/XLM-R
    // recipe) so the mixture flattens without starving small sources.
    // The rate is a 12-bit fixed-point threshold (exact integer
    // compare, no float-equality hazard in the keep/drop decision; the
    // only float ops are one √ and one ÷, both correctly-rounded IEEE
    // so the rate itself hash-checks), and the sampler is the q59
    // partition-invariant md5 bucket — same docs survive on 1 executor
    // or 1000. Scale shape: per-source agg is tiny (|sources| rows),
    // rates broadcast back, keep/drop is a narrow filter; at 100 TB
    // the second scan folds into the first via a cached token count or
    // a metadata-level count.
    "qA0_domain_mixture" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tok"))
      val avail = d.groupBy("source")
        .agg(count(lit(1)).as("docs_avail"), sum("n_tok").as("tokens_avail"))
        .withColumn("rate_4096",
          least(lit(4096L),
            floor(lit(65536.0) / sqrt(col("tokens_avail").cast("double")))))
      val kept = d
        .join(broadcast(avail.select("source", "rate_4096")), "source")
        .filter(Dedup.md5Long(col("doc_id").cast("string")) % 4096 < col("rate_4096"))
        .groupBy("source")
        .agg(count(lit(1)).as("docs_kept"), sum("n_tok").as("tokens_kept"))
      avail.join(kept, Seq("source"), "left")
        .na.fill(0L, Seq("docs_kept", "tokens_kept"))
        .select("source", "docs_avail", "tokens_avail", "rate_4096",
          "docs_kept", "tokens_kept")
    }),

    // Deterministic train/val/test assignment (80/10/10 by md5
    // bucket): the split every experiment pipeline needs to be
    // LEAKAGE-FREE and reproducible — a content-hash bucket is
    // partition-invariant and stable across reruns/engines, where
    // rand(seed) is neither. Output is the per-(source, split) audit
    // (doc/token counts + per-mille share against the source total) a
    // release gate would check. Narrow map + one small agg; the
    // window total is over |source × split| rows, not docs.
    "qA8_split_assign" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val d = table(s, dir, "documents")
        .select(col("doc_id"), col("source"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tok"))
        .withColumn("bucket", Dedup.md5Long(col("doc_id").cast("string")) % 256)
        .withColumn("split",
          when(col("bucket") < 204, lit("train"))
            .when(col("bucket") < 230, lit("val"))
            .otherwise(lit("test")))
      val per = d.groupBy("source", "split")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
      per.withColumn("n_total",
          sum("n_docs").over(Window.partitionBy("source")))
        .withColumn("frac_pm", expr("n_docs * 1000 div n_total"))
        .select("source", "split", "n_docs", "n_tokens", "n_total", "frac_pm")
    }),

    // Count-based bigram LM: per context token, the top-3 next tokens
    // with integer per-mille conditional probability — the n-gram
    // model behind perplexity filters and contamination heuristics,
    // and a second consumer of the GroupedTopK operator (the
    // context × next-token tail never reaches a sort; ≤3 rows per
    // context per task cross the exchange).
    "qAE_bigram_lm" -> ((s, dir) => {
      val bg = table(s, dir, "documents")
        .select(explode(TextStats.shingles(TextStats.tokens(col("text")), 2)).as("bg"))
        .withColumn("ctx", split(col("bg"), " ").getItem(0))
        .withColumn("nxt", split(col("bg"), " ").getItem(1))
      val counts = bg.groupBy("ctx", "nxt").agg(count(lit(1)).as("c"))
      val totals = counts.groupBy("ctx").agg(sum("c").as("ctx_total"))
      GroupedTopK.topK(counts, Seq(col("ctx")),
          Seq(col("c").desc, col("nxt").asc), 3)
        .join(totals, "ctx")
        .select(col("ctx"), col("nxt"), col("c"), col("ctx_total"),
          expr("c * 1000 div ctx_total").as("p_pm"))
    }),

    // BPE tokenizer training, the distributed inner loop: count
    // adjacent character pairs across the corpus weighted by word
    // frequency, take the top merge candidates. One round shown (the
    // argmax pair IS the first BPE merge — Sennrich et al. 2016);
    // production iterates: driver broadcasts the chosen merge back
    // (a few bytes) and re-counts, so each round is one shuffle on
    // the pair key. The word pre-aggregation is the key scale move —
    // pair generation runs over DISTINCT words (vocab-sized, Zipf-
    // bounded), never the raw token stream.
    "qB0_bpe_pairs" -> ((s, dir) => {
      val words = table(s, dir, "documents")
        .select(explode(TextStats.tokens(col("text"))).as("w"))
        .where(length(col("w")) >= 2)
        .groupBy("w").agg(count(lit(1)).as("wc"))
      words
        .select(col("wc"),
          explode(expr("transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))"))
            .as("pair"))
        .groupBy("pair").agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("pair").asc)
        .limit(20)
    }),

    // Two-sample Kolmogorov–Smirnov drift statistic between the
    // length distributions of two source cohorts — the standard
    // "did the ingest distribution shift" gate on a training corpus.
    // Integer-exact: D is computed as max |cumA·nB - cumB·nA| over
    // the pooled distinct values (scaled by nA·nB), so the max runs
    // on exact integers and the final ks double is one cast + one
    // division. Scale shape: groupBy(x) first collapses the corpus
    // to |distinct x| rows, and only THAT compact frame crosses the
    // single-partition cumulative window — the standard two-phase
    // ECDF. If the value domain itself were corpus-sized (continuous
    // scores), the next step is a range-partitioned prefix sum
    // (per-partition partials + a broadcast carry), not this window.
    "qB1_ks_drift" -> ((s, dir) => {
      val v = table(s, dir, "documents")
        .select(col("n_chars").as("x"),
          when(substring(col("source"), 4, 8).cast("int") < 10, 1L)
            .otherwise(0L).as("a"))
        .select(col("x"), col("a"), (lit(1L) - col("a")).as("b"))
      val cnt = v.groupBy("x").agg(sum("a").as("ca"), sum("b").as("cb"))
      val w = Window.orderBy("x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      // r16 (guide §2.4): the crossJoined cnt.agg totals re-ran the
      // documents pass; they ride the same single-partition window
      // the ECDF already pays (bounded: one row per distinct x).
      val wAll = Window.partitionBy()
      val cum = cnt.select(col("x"),
        sum("ca").over(w).as("cuma"), sum("cb").over(w).as("cumb"),
        sum("ca").over(wAll).as("na"), sum("cb").over(wAll).as("nb"))
      cum
        .groupBy("na", "nb")
        .agg(max(abs(col("cuma") * col("nb") - col("cumb") * col("na")))
          .as("d_scaled"))
        .select(col("na"), col("nb"), col("d_scaled"),
          (col("d_scaled").cast("double") / (col("na") * col("nb")))
            .as("ks"))
    }),

    // Batch model inference: score every embedding with a fixed
    // linear head (weights are an exact-in-double rational literal)
    // and histogram the logits per label — the "apply a trained
    // quality/toxicity classifier to the whole corpus" shape.
    // Distribution: the weight vector broadcasts as a literal inside
    // the codegen'd ArrayDot fold — a pure narrow map, no shuffle
    // until the tiny bucket aggregate. Bucketing happens in LOGIT
    // space (thresholds on z), which sidesteps exp()/sigmoid — the
    // one transcendental whose libm rounding differs across engines;
    // min/max of z are order-invariant so the doubles hash exactly.
    "qBC_linear_scoring" -> ((s, dir) => {
      val w = (0 until 64).map(j => ((j * 37) % 21 - 10) / 10.0).toArray
      val z = graft.functions.ArrayDot(col("embedding"), lit(w)) + lit(0.25)
      table(s, dir, "embeddings")
        .select(col("label"), z.as("z"))
        .withColumn("bucket",
          when(col("z") < -1, "z1_lt_-1").when(col("z") < 0, "z2_neg")
            .when(col("z") < 1, "z3_pos").otherwise("z4_ge_1"))
        .groupBy("label", "bucket")
        .agg(count(lit(1)).as("n"),
          min("z").as("min_z"), max("z").as("max_z"))
    }),

    // Exact-k per-group sampling: bottom-k by content hash — the
    // distributed stand-in for per-group reservoir sampling that is
    // DETERMINISTIC (re-runs and backfills pick identical rows, the
    // property a training-data snapshot needs) and single-pass.
    // Rides GroupedTopK's partial heaps: each task keeps ≤k rows per
    // group, so the exchange carries O(groups·k), never the corpus —
    // unlike orderBy(rand()) which global-sorts everything. q7B is
    // the fraction-based cousin; this one guarantees exactly
    // min(k, |group|) rows.
    "qBF_bottomk_sample" -> ((s, dir) => {
      val pr = table(s, dir, "documents")
        .select(col("source"), col("doc_id"),
          Dedup.md5Long(col("doc_id").cast("string")).as("priority"))
      GroupedTopK.topK(pr, Seq(col("source")),
          Seq(col("priority").asc, col("doc_id").asc), 5)
        .select("source", "doc_id", "priority")
    }),

    // Quantile normalization across event-type groups — the batch
    // feature-prep transform that forces every group onto a common
    // distribution (the rank-r normalized value is the cross-group
    // mean of each group's r-th order statistic; Bolstad '03). Shape:
    // one window rank per group (single shuffle on event_type), an
    // early rank cap so the rank-grain aggregate carries O(cap·
    // groups) rows — not the corpus — and exact-integer µ-unit
    // arithmetic end to end: sums of longs, one integer division,
    // zero float aggregation. Ranks missing from any group (past its
    // size) are dropped via the n_at_rank == n_types gate, the
    // standard truncate-to-shortest-group rule.
    "qE6_quantile_norm" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("event_type")
        .orderBy(col("micro").asc, col("event_id").asc)
      val ranked = table(s, dir, "events")
        .filter(col("value").isNotNull)
        .select(col("event_type"), col("event_id"),
          round(col("value") * 1000000).cast("long").as("micro"))
        .withColumn("r", row_number().over(w).cast("long"))
        .filter(col("r") <= 2000)
      // r16 (guide §2.4): the crossJoined countDistinct re-ran the
      // whole per-type rank window a second time. n_types IS
      // n_at_rank at r = 1 (every type present in `ranked` has a
      // rank-1 row, and n_at_rank is non-increasing in r), so it is
      // the max over the collapsed ≤2000-row rank-grain frame — one
      // window pass, one corpus pass.
      ranked.groupBy("r")
        .agg(count(lit(1)).as("n_at_rank"),
          sum(col("micro")).as("sum_micro"))
        .withColumn("n_types",
          max(col("n_at_rank")).over(Window.partitionBy()))
        .filter(col("n_at_rank") === col("n_types"))
        .select(col("r"), col("n_types"),
          expr("sum_micro div n_types").as("norm_micro"))
    }),

    // Out-of-fold target encoding — the leakage-safe way to turn a
    // categorical feature into a number for tree/linear models: each
    // (category, fold) cell is encoded with the target mean computed
    // on the OTHER folds, so no row sees its own label. One
    // map-side-combinable groupBy builds the |cats|×|folds| cell
    // table (25 rows here, bounded regardless of row count); the
    // leave-one-out subtraction is a window over that collapsed
    // frame — raw rows are scanned ONCE and never re-shuffled.
    // Cents sums are exact BIGINTs; the encoding is one pinned
    // double division at the end.
    "q116_target_encode_oof" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val g = table(s, dir, "customer")
        .select(col("c_mktsegment").as("seg"),
          (col("c_custkey") % 5).as("fold"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("cents"))
        .groupBy("seg", "fold")
        .agg(count(lit(1)).as("n_in"), sum("cents").as("s_in"))
      val w = Window.partitionBy("seg")
      g.withColumn("n_tot", sum("n_in").over(w))
        .withColumn("s_tot", sum("s_in").over(w))
        .select(col("seg"), col("fold"), col("n_in"),
          (col("n_tot") - col("n_in")).as("n_out"),
          expr("CAST(s_tot - s_in AS DOUBLE) / (n_tot - n_in) / 100")
            .as("oof_mean"))
    }),

    // Reliability diagram (calibration bins) — the ECE input every
    // model-eval pipeline computes: bucket predictions by confidence
    // decile, compare mean confidence to realized accuracy. The
    // "model" is a deterministic md5-uniform confidence u and an
    // outcome drawn at rate u² (same md5, independent salt) — a
    // knowably OVERconfident predictor, so the per-bin gap is
    // structurally nonzero and the query's output is meaningful.
    // Confidences quantize to nano-units before summing (exact
    // BIGINTs, partition-invariant); accuracy / mean-conf / gap are
    // pinned final divisions. Narrow map + one 10-row agg.
    "q118_calibration_bins" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"))
        .withColumn("u", expr(
          """CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 13), 16, 10)
             AS DOUBLE) / 4.503599627370496e15"""))
        .withColumn("hit", expr(
          """CAST(conv(substring(md5(CAST(doc_id AS STRING) || '|y'), 1, 13),
             16, 10) AS BIGINT) % 1000000
             < CAST(floor(u * u * 1000000) AS BIGINT)"""))
        .withColumn("bin", floor(col("u") * 10).cast("long"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n"),
          sum(when(col("hit"), 1L).otherwise(0L)).as("n_hit"),
          sum(floor(col("u") * 1e9).cast("long")).as("conf_fp"))
        .withColumn("accuracy", expr("CAST(n_hit AS DOUBLE) / n"))
        .withColumn("mean_conf", expr("CAST(conf_fp AS DOUBLE) / n / 1e9"))
        .withColumn("gap", expr("abs(accuracy - mean_conf)"))
    }),

    // Temperature-scaled domain mixture (T = 0.5) — the sampling-
    // weight law multilingual/multi-domain training corpora are mixed by
    // (p_d^(1/T) normalized; T=2 in mT5's notation is w ∝ √p): head
    // domains are damped, tail domains boosted, and the factor
    // column says how much each domain is up/down-sampled vs raw.
    // √tokens quantizes to micro-units (IEEE sqrt is correctly
    // rounded — bit-identical across engines), so the normalizer is
    // an exact BIGINT sum over the collapsed |domains| frame and
    // every output share is a pinned division.
    "q11D_temp_mixture" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      table(s, dir, "documents")
        .select(col("source"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tok"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
        .withColumn("s_fp",
          floor(sqrt(col("n_tokens").cast("double")) * 1e6).cast("long"))
        .withColumn("tot_fp", sum("s_fp").over(Window.partitionBy()))
        .withColumn("tot_tokens", sum("n_tokens").over(Window.partitionBy()))
        .select(col("source"), col("n_docs"), col("n_tokens"), col("s_fp"),
          expr("CAST(s_fp AS DOUBLE) / tot_fp").as("weight"),
          expr("""(CAST(s_fp AS DOUBLE) / tot_fp)
                  / (CAST(n_tokens AS DOUBLE) / tot_tokens)""").as("factor"))
    })
  )

  def oracles: Map[String, String] = Map(
    // same ascending rank (ties by doc_id are mass-invariant), same
    // exact integer terms, same one final division
    "qF2_gini_concentration" ->
      """WITH r AS (
           SELECT source, n_chars,
             CAST(row_number() OVER (PARTITION BY source
                                     ORDER BY n_chars ASC, doc_id ASC) AS BIGINT) AS i
           FROM documents),
         a AS (
           -- rank mass in HUGEINT, mirroring Spark's decimal(38,0)
           SELECT source, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(n_chars) AS BIGINT) AS total_chars,
             sum(CAST(i AS HUGEINT) * n_chars) AS rank_mass
           FROM r GROUP BY source)
         SELECT source, n, total_chars,
           CAST(2 * rank_mass - CAST(n + 1 AS HUGEINT) * total_chars AS DOUBLE)
             / CAST(CAST(n AS HUGEINT) * total_chars AS DOUBLE) AS gini
         FROM a""",

    // same dollar moments, same 1/10² weight floors, same integer
    // shares and largest-remainder rank
    "q10B_neyman_allocation" ->
      """WITH m AS (
           SELECT l_returnflag AS flag, l_linestatus AS status,
             CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CAST(floor(l_extendedprice) AS BIGINT)) AS BIGINT) AS sc,
             -- qc / t / x1000 remainder arithmetic in HUGEINT,
             -- mirroring Spark's decimal(38,0)
             sum(CAST(floor(l_extendedprice) AS HUGEINT)
                      * CAST(floor(l_extendedprice) AS BIGINT)) AS qc
           FROM lineitem GROUP BY 1, 2),
         w AS (
           SELECT flag, status, n,
             CAST(floor(CAST(n AS DOUBLE)
               * sqrt(CAST(n AS DOUBLE) * qc - CAST(sc AS DOUBLE) * sc) / n
               * 100) AS BIGINT) AS w_fp
           FROM m),
         t AS (SELECT sum(CAST(w_fp AS HUGEINT)) AS t FROM w),
         sh AS (
           SELECT flag, status, n, w_fp,
             CAST(CAST(w_fp AS HUGEINT) * 1000 // t AS BIGINT) AS base,
             CAST(row_number() OVER (
               ORDER BY (CAST(w_fp AS HUGEINT) * 1000 % t) DESC,
               flag ASC, status ASC) AS BIGINT) AS rnk
           FROM w, t),
         sht AS (SELECT 1000 - CAST(sum(base) AS BIGINT) AS short FROM sh)
         SELECT flag, status, n, w_fp,
           CAST(base + CASE WHEN rnk <= short THEN 1 ELSE 0 END AS BIGINT)
             AS alloc
         FROM sh, sht""",

    // same two independent md5 samples, same Chapman integer form
    "q10C_capture_recapture" ->
      """WITH o AS (
           SELECT
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|A'), 1, 15))
               AS BIGINT) % 10 = 0 AS in_a,
             CAST(('0x' || substr(md5(CAST(o_orderkey AS VARCHAR) || '|B'), 1, 15))
               AS BIGINT) % 10 = 0 AS in_b
           FROM orders),
         a AS (
           SELECT CAST(count(*) AS BIGINT) AS n_true,
             CAST(sum(CASE WHEN in_a THEN 1 ELSE 0 END) AS BIGINT) AS n1,
             CAST(sum(CASE WHEN in_b THEN 1 ELSE 0 END) AS BIGINT) AS n2,
             CAST(sum(CASE WHEN in_a AND in_b THEN 1 ELSE 0 END) AS BIGINT) AS m
           FROM o)
         SELECT n_true, n1, n2, m,
           CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) // (m + 1) - 1 AS BIGINT)
             AS n_est,
           CAST(CAST(n1 + 1 AS HUGEINT) * (n2 + 1) // (m + 1) - 1 AS DOUBLE)
             / n_true AS est_ratio
         FROM a""",

    // same count cells, same per-cell 1/10⁶ entropy-term floors,
    // same pinned final division
    "q10D_info_gain" ->
      """WITH o AS (
           SELECT o_orderstatus AS label, o_orderpriority AS f_priority,
             CAST(month(o_orderdate) AS VARCHAR) AS f_month
           FROM orders),
         long AS (
           SELECT 'priority' AS feature, f_priority AS bin, label FROM o
           UNION ALL
           SELECT 'month', f_month, label FROM o),
         cells AS (
           SELECT feature, bin, label, CAST(count(*) AS BIGINT) AS c
           FROM long GROUP BY feature, bin, label),
         bins AS (
           SELECT feature, bin, CAST(sum(c) AS BIGINT) AS nb
           FROM cells GROUP BY feature, bin),
         cond AS (
           SELECT c.feature,
             CAST(count(DISTINCT c.bin) AS BIGINT) AS n_bins,
             CAST(sum(c.c) AS BIGINT) AS n_rows,
             CAST(sum(CAST(floor(c.c * ln(CAST(c.c AS DOUBLE) / b.nb) * 1e6)
               AS BIGINT)) AS BIGINT) AS cond_fp
           FROM cells c JOIN bins b USING (feature, bin)
           GROUP BY c.feature),
         lc AS (
           SELECT label, CAST(count(*) AS BIGINT) AS cl FROM o GROUP BY label),
         lt AS (SELECT CAST(sum(cl) AS BIGINT) AS nn FROM lc),
         marg AS (
           SELECT CAST(max(nn) AS BIGINT) AS nn,
             CAST(sum(CAST(floor(cl * ln(CAST(cl AS DOUBLE) / nn) * 1e6)
               AS BIGINT)) AS BIGINT) AS marg_fp
           FROM lc, lt)
         SELECT feature, n_bins, n_rows, cond_fp, marg_fp,
           CAST(cond_fp - marg_fp AS DOUBLE) / n_rows / 1e6 AS info_gain
         FROM cond, marg""",

    // same fixed-point long form, same exact moment integers, same
    // pinned distance/silhouette sequences
    "q104_silhouette" ->
      """WITH pts AS (
           SELECT vec_id, label,
             [CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT)
              for x in embedding[1:16]] AS v
           FROM embeddings),
         long AS (
           SELECT vec_id, label, CAST(g.d AS INTEGER) AS d,
             v[CAST(g.d AS INTEGER) + 1] AS q
           FROM pts, generate_series(0, 15) g(d)),
         cent AS (
           SELECT label AS clabel, d, CAST(sum(q) AS BIGINT) AS sd,
             CAST(count(*) AS BIGINT) AS nc
           FROM long GROUP BY label, d),
         qq AS (
           SELECT vec_id, CAST(sum(q * q) AS BIGINT) AS qq
           FROM long GROUP BY vec_id),
         ss AS (
           SELECT clabel, CAST(sum(sd * sd) AS BIGINT) AS ss,
             CAST(max(nc) AS BIGINT) AS nc
           FROM cent GROUP BY clabel),
         xs AS (
           SELECT l.vec_id, l.label, c.clabel, CAST(sum(l.q * c.sd) AS BIGINT) AS xs
           FROM long l JOIN cent c USING (d)
           GROUP BY l.vec_id, l.label, c.clabel),
         dist AS (
           SELECT x.vec_id, x.label, x.clabel,
             greatest(CAST(q.qq AS DOUBLE) - 2.0 * CAST(x.xs AS DOUBLE) / s.nc
               + CAST(s.ss AS DOUBLE) / (CAST(s.nc AS DOUBLE) * CAST(s.nc AS DOUBLE)),
               0.0) AS d2
           FROM xs x JOIN ss s USING (clabel) JOIN qq q USING (vec_id)),
         ab AS (
           SELECT vec_id, label,
             max(CASE WHEN clabel = label THEN d2 END) AS a2,
             min(CASE WHEN clabel <> label THEN d2 END) AS b2
           FROM dist GROUP BY vec_id, label),
         sil AS (
           SELECT label,
             (sqrt(b2) - sqrt(a2)) / greatest(sqrt(a2), sqrt(b2)) AS sil
           FROM ab)
         SELECT label, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CAST(floor(sil * 1e6) AS BIGINT)) AS BIGINT) AS sil_micro,
           CAST(sum(CASE WHEN sil < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_neg,
           CAST(sum(CAST(floor(sil * 1e6) AS BIGINT)) AS DOUBLE)
             / (CAST(count(*) AS DOUBLE) * 1e6) AS mean_sil
         FROM sil GROUP BY label""",

    // same bins and cents, same cumulative/total window sums (cast
    // out of HUGEINT before arithmetic), same pinned gain sequence
    // and (gain DESC, bin ASC) argmax
    "qF9_gbdt_hist" ->
      """WITH li AS (
           SELECT CAST(round(l_extendedprice * 100) AS BIGINT) AS cents,
             CAST(l_quantity AS BIGINT) AS qty,
             CAST(round(l_discount * 100) AS BIGINT) AS disc
           FROM lineitem),
         b AS (
           SELECT feature, bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(cents) AS BIGINT) AS s
           FROM (
             SELECT 'quantity' AS feature, qty AS bin, cents FROM li
             UNION ALL
             SELECT 'discount', disc, cents FROM li)
           GROUP BY feature, bin),
         c AS (
           SELECT feature, bin,
             CAST(sum(n) OVER wc AS BIGINT) AS n_l,
             CAST(sum(s) OVER wc AS BIGINT) AS s_l,
             CAST(sum(n) OVER wt AS BIGINT) AS n_t,
             CAST(sum(s) OVER wt AS BIGINT) AS s_t
           FROM b
           WINDOW wc AS (PARTITION BY feature ORDER BY bin ASC
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                  wt AS (PARTITION BY feature)),
         d AS (
           SELECT feature, bin, n_l, s_l, n_t, s_t,
             n_t - n_l AS n_r, s_t - s_l AS s_r
           FROM c WHERE n_t - n_l > 0),
         g AS (
           SELECT feature, bin, n_l, n_r, s_l, s_r,
             CAST(s_l AS DOUBLE) * s_l / n_l
               + CAST(s_r AS DOUBLE) * s_r / n_r
               - CAST(s_t AS DOUBLE) * s_t / n_t AS gain
           FROM d),
         r AS (
           SELECT *, row_number() OVER (PARTITION BY feature
                       ORDER BY gain DESC, bin ASC) AS rn
           FROM g)
         SELECT feature, bin AS split_bin, n_l, n_r, s_l, s_r, gain
         FROM r WHERE rn = 1""",

    // same md5-derived uniform keyed (doc_id, replicate), same
    // literal CDF thresholds, same one final division
    "qFA_poisson_bootstrap" ->
      """WITH d AS (
           SELECT doc_id, n_chars, CAST(g.r AS BIGINT) AS r,
             (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|'
                                    || CAST(g.r AS VARCHAR)), 1, 15)) AS BIGINT)
              % 9007199254740992) / 9007199254740992.0 AS u
           FROM documents, generate_series(0, 31) g(r)),
         w AS (
           SELECT r, n_chars,
             CASE WHEN u < 0.36787944117144233 THEN 0
                  WHEN u < 0.7357588823428847 THEN 1
                  WHEN u < 0.9196986029286058 THEN 2
                  WHEN u < 0.9810118431238462 THEN 3
                  WHEN u < 0.9963401531726563 THEN 4
                  WHEN u < 0.9994058151824183 THEN 5
                  ELSE 6 END AS w
           FROM d)
         SELECT r, CAST(sum(w) AS BIGINT) AS n_sampled,
           CAST(sum(CASE WHEN w > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_hit,
           CAST(sum(w * n_chars) AS BIGINT) AS mass,
           CAST(sum(w * n_chars) AS DOUBLE)
             / CAST(sum(w) AS DOUBLE) AS mean_chars
         FROM w GROUP BY r""",

    // same integer features, same upper-triangle pair expansion,
    // same moment sums and pinned corr sequence
    "qFE_corr_matrix" ->
      """WITH q AS (
           SELECT [CAST(l_quantity AS BIGINT),
                   CAST(floor(l_extendedprice) AS BIGINT),
                   CAST(round(l_discount * 100) AS BIGINT),
                   CAST(round(l_tax * 100) AS BIGINT)] AS v
           FROM lineitem),
         p AS (
           SELECT CAST(g1.i AS INTEGER) AS i, CAST(g2.j AS INTEGER) AS j,
             v[CAST(g1.i AS INTEGER) + 1] AS x,
             v[CAST(g2.j AS INTEGER) + 1] AS y
           FROM q, generate_series(0, 3) g1(i), generate_series(0, 3) g2(j)
           WHERE g2.j >= g1.i),
         a AS (
           SELECT i, j, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(x) AS BIGINT) AS s_x, CAST(sum(y) AS BIGINT) AS s_y,
             CAST(sum(x * y) AS BIGINT) AS s_xy,
             CAST(sum(x * x) AS BIGINT) AS s_xx,
             CAST(sum(y * y) AS BIGINT) AS s_yy
           FROM p GROUP BY i, j),
         nm AS (SELECT ['quantity', 'price_usd', 'discount_c', 'tax_c'] AS names)
         SELECT names[i + 1] AS f1, names[j + 1] AS f2,
           n, s_x, s_y, s_xy, s_xx, s_yy,
           (CAST(n AS DOUBLE) * s_xy - CAST(s_x AS DOUBLE) * s_y)
             / (sqrt(CAST(n AS DOUBLE) * s_xx - CAST(s_x AS DOUBLE) * s_x)
                * sqrt(CAST(n AS DOUBLE) * s_yy - CAST(s_y AS DOUBLE) * s_y))
             AS corr
         FROM a, nm""",

    // same class table (floored $1000 buckets), same literal
    // thresholds, same one final division
    "qF5_k_anonymity" ->
      """WITH classes AS (
           SELECT c_nationkey,
             CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_bucket,
             CAST(count(*) AS BIGINT) AS cn,
             CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS cl
           FROM customer GROUP BY 1, 2),
         ks AS (SELECT CAST(unnest([2, 5, 10, 25]) AS BIGINT) AS k)
         SELECT k, CAST(count(*) AS BIGINT) AS n_classes,
           CAST(sum(CASE WHEN cn < k THEN 1 ELSE 0 END) AS BIGINT) AS classes_at_risk,
           CAST(sum(CASE WHEN cn < k THEN cn ELSE 0 END) AS BIGINT) AS rows_at_risk,
           CAST(min(cl) AS BIGINT) AS min_l_diversity,
           CAST(sum(CASE WHEN cn < k THEN cn ELSE 0 END) AS DOUBLE)
             / CAST(sum(cn) AS DOUBLE) AS suppression_rate
         FROM ks, classes GROUP BY k""",

    // same 1-based slice, same fixed-point floor, same upper-triangle
    // index pairs
    "qF0_gram_matrix" ->
      """WITH q AS (
           SELECT [CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT)
                   for x in embedding[1:16]] AS v
           FROM embeddings),
         p AS (
           SELECT CAST(g1.i AS INTEGER) AS i, CAST(g2.j AS INTEGER) AS j,
             v[CAST(g1.i AS INTEGER) + 1] * v[CAST(g2.j AS INTEGER) + 1] AS p
           FROM q, generate_series(0, 15) g1(i), generate_series(0, 15) g2(j)
           WHERE g2.j >= g1.i)
         SELECT i, j, CAST(count(*) AS BIGINT) AS n,
           CAST(sum(p) AS BIGINT) AS s_xy
         FROM p GROUP BY i, j""",

    // same md5-derived uniform over 2^53, same ln, same one-division
    // key; the window top-5 mirrors GroupedTopK's (desc key, asc id)
    // total order
    "qED_weighted_reservoir" ->
      """WITH k AS (
           SELECT source, doc_id, n_chars,
             ln(((CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                  % 9007199254740992) + 1) / 9007199254740992.0) / n_chars AS skey
           FROM documents),
         r AS (
           SELECT source, doc_id, n_chars, skey,
             row_number() OVER (PARTITION BY source
                                ORDER BY skey DESC, doc_id ASC) AS rn
           FROM k)
         SELECT source, doc_id, n_chars, skey
         FROM r WHERE rn <= 5""",

    // same integer threshold algebra; window sums are HUGEINT in
    // DuckDB — cast inside the CTE before the comparison
    "qDF_nucleus_select" ->
      """WITH d AS (
           SELECT lang, doc_id, n_chars,
             CAST(sum(n_chars) OVER (PARTITION BY lang
               ORDER BY n_chars DESC, doc_id ASC
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS cum,
             CAST(sum(n_chars) OVER (PARTITION BY lang) AS BIGINT) AS total
           FROM documents),
         s AS (
           SELECT lang, n_chars, total,
             (10 * (cum - n_chars) < 9 * total) AS sel
           FROM d)
         SELECT lang, count(*) AS n_docs,
           CAST(sum(CASE WHEN sel THEN 1 ELSE 0 END) AS BIGINT) AS n_sel,
           CAST(sum(CASE WHEN sel THEN n_chars ELSE 0 END) AS BIGINT) AS sel_chars,
           max(total) AS total_chars
         FROM s GROUP BY lang""",

    // same integer rank algebra; rank()/count() windows and the CASE
    // sums are HUGEINT-prone in DuckDB — cast every aggregate
    "qDD_auc_ranksum" ->
      """WITH o AS (
           SELECT o_orderstatus AS status,
             CASE WHEN o_orderpriority = '1-URGENT' THEN 1 ELSE 0 END AS pos,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents
           FROM orders),
         r AS (
           SELECT status, pos,
             2 * rank() OVER (PARTITION BY status ORDER BY cents)
               + count(*) OVER (PARTITION BY status, cents) - 1 AS r2
           FROM o),
         a AS (
           SELECT status,
             CAST(sum(pos) AS BIGINT) AS n_pos,
             CAST(count(*) - sum(pos) AS BIGINT) AS n_neg,
             CAST(sum(CASE WHEN pos = 1 THEN r2 ELSE 0 END)
               - sum(pos) * (sum(pos) + 1) AS BIGINT) AS u2
           FROM r GROUP BY status)
         SELECT status, n_pos, n_neg, u2,
           CASE WHEN n_pos > 0 AND n_neg > 0 THEN
             CAST(u2 AS DOUBLE) / (2.0 * n_pos * n_neg) END AS auc
         FROM a""",

    // constant series + bound filter (DuckDB 1.0 cannot correlate
    // generate_series in a lateral position)
    "q75_doc_chunks" ->
      s"""WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          starts AS (
            SELECT doc_id, w, g.s AS start
            FROM t, generate_series(0, 65536, $Stride) g(s)
            WHERE g.s <= len(w) - 1)
          SELECT doc_id,
            CAST(start // $Stride AS INTEGER) AS chunk_idx,
            array_to_string(list_slice(w, start + 1, start + $Chunk), ' ') AS chunk,
            CAST(least($Chunk, len(w) - start) AS INTEGER) AS n_chunk_tokens
          FROM starts""",

    "q76_term_salience" ->
      """WITH pairs AS (
           SELECT doc_id, t.term
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                unnest(w) AS t(term)),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM pairs GROUP BY doc_id, term),
         df AS (
           SELECT term, CAST(count(*) AS BIGINT) AS df
           FROM (SELECT DISTINCT doc_id, term FROM pairs) GROUP BY term),
         sal AS (
           SELECT tf.doc_id, tf.term, tf.tf, df.df,
             CAST(tf.tf AS DOUBLE) / df.df AS salience
           FROM tf JOIN df USING (term))
         SELECT doc_id, term, tf, df, salience FROM (
           SELECT *, row_number() OVER (PARTITION BY doc_id
             ORDER BY salience DESC, term ASC) AS rn
           FROM sal) t
         WHERE rn <= 3""",

    // identical parenthesized float ops, pinned per-term sum order —
    // see the query comment for why the double hash check is exact
    "q85_bm25_topk" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         lens AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len FROM docs),
         stats AS (SELECT CAST(count(*) AS BIGINT) AS n_docs,
                     CAST(sum(len) AS BIGINT) AS sum_len FROM lens),
         pairs AS (
           SELECT doc_id, t.term FROM docs, unnest(w) AS t(term)
           WHERE t.term IN ('hash', 'join', 'spark', 'stream')),
         tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
                FROM pairs GROUP BY 1, 2),
         df AS (SELECT term, CAST(count(*) AS BIGINT) AS df
                FROM (SELECT DISTINCT doc_id, term FROM pairs) GROUP BY 1),
         scored AS (
           -- e-notation literals: DuckDB types bare decimals as
           -- DECIMAL (exact arithmetic), which diverges from Spark's
           -- IEEE doubles by an ulp; 0.5e0 etc. force DOUBLE so both
           -- engines run the identical float op sequence
           SELECT tf.doc_id, tf.term,
             ln((n_docs - df + 0.5e0) / (df + 0.5e0) + 1.0e0)
               * ((tf * 2.2e0) / (tf + 1.2e0 * (0.25e0 + 0.75e0
                   * (CAST(len AS DOUBLE) / (CAST(sum_len AS DOUBLE) / n_docs))))) AS score
           FROM tf JOIN df USING (term) JOIN lens USING (doc_id), stats),
         agg AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_terms,
             max(CASE WHEN term = 'hash' THEN score END) AS s_hash,
             max(CASE WHEN term = 'join' THEN score END) AS s_join,
             max(CASE WHEN term = 'spark' THEN score END) AS s_spark,
             max(CASE WHEN term = 'stream' THEN score END) AS s_stream
           FROM scored GROUP BY doc_id)
         SELECT doc_id, n_terms,
           coalesce(s_hash, 0.0e0) + coalesce(s_join, 0.0e0)
             + coalesce(s_spark, 0.0e0) + coalesce(s_stream, 0.0e0) AS bm25
         FROM agg
         ORDER BY bm25 DESC, doc_id ASC
         LIMIT 10""",

    // same u construction: 13 md5 hex digits over the power-of-two
    // divisor make u (and u/quality) single exact IEEE ops
    "q7E_weighted_sample" ->
      s"""${TextQueries.qualityMilliSql}
         SELECT doc_id, quality,
           (CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13)) AS BIGINT)
             / power(16, 13)) / quality AS xi
         FROM q
         ORDER BY xi ASC, doc_id ASC
         LIMIT 50""",

    // exact counts + top-5 window — valid because the sketch is exact
    // whenever capacity >= distinct terms (≤1153/shard at sf10 vs
    // capacity 16384, pinned by
    // the same-order tiebreak cnt DESC, term ASC on both sides)
    "q78_heavy_hitters" ->
      """WITH pairs AS (
           SELECT doc_id % 16 AS shard, t.term
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                unnest(w) AS t(term)),
         cnts AS (
           SELECT shard, term, CAST(count(*) AS BIGINT) AS cnt
           FROM pairs GROUP BY shard, term)
         SELECT shard, CAST(rn - 1 AS INTEGER) AS rank, term, cnt FROM (
           SELECT shard, term, cnt,
             row_number() OVER (PARTITION BY shard ORDER BY cnt DESC, term ASC) AS rn
           FROM cnts) t
         WHERE rn <= 5""",

    // bucket p = word_i(md5(term)) % 16 per row i; counter(i,p) sums
    // the exact counts of every term colliding there; the estimate is
    // the min over the term's 4 row counters — the CMS definition,
    // reconstructed from the same md5 hex slices the aggregate uses
    // same unpivot, same (count DESC, value) rank per column
    "qD8_label_encode" ->
      """WITH long AS (
           SELECT 'priority' AS c, o_orderpriority AS v FROM orders
           UNION ALL
           SELECT 'status', o_orderstatus FROM orders),
         f AS (SELECT c, v, count(*) AS n FROM long GROUP BY c, v)
         SELECT c, v, n,
           CAST(row_number() OVER (PARTITION BY c
             ORDER BY n DESC, v ASC) - 1 AS INTEGER) AS code
         FROM f""",

    // both sketches re-derived with the md5-word hash, same min of
    // per-row inner products, same exact spine
    "qCF_cms_join_size" ->
      """WITH a AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events),
         b AS (SELECT CAST(o_custkey AS VARCHAR) AS k FROM orders),
         ea AS (SELECT k, CAST(count(*) AS BIGINT) AS ca FROM a GROUP BY k),
         eb AS (SELECT k, CAST(count(*) AS BIGINT) AS cb FROM b GROUP BY k),
         pa AS (SELECT ca, i,
                  CAST(CAST('0x' || substr(md5(k), 1 + 8 * i, 8) AS UBIGINT)
                    % 65536 AS BIGINT) AS p
                FROM ea, generate_series(0, 3) g(i)),
         ra AS (SELECT i, p, CAST(sum(ca) AS BIGINT) AS ct
                FROM pa GROUP BY i, p),
         pb AS (SELECT cb, i,
                  CAST(CAST('0x' || substr(md5(k), 1 + 8 * i, 8) AS UBIGINT)
                    % 65536 AS BIGINT) AS p
                FROM eb, generate_series(0, 3) g(i)),
         rb AS (SELECT i, p, CAST(sum(cb) AS BIGINT) AS ct
                FROM pb GROUP BY i, p),
         ip AS (SELECT ra.i, CAST(sum(ra.ct * rb.ct) AS BIGINT) AS v
                FROM ra JOIN rb ON ra.i = rb.i AND ra.p = rb.p GROUP BY ra.i),
         est AS (SELECT min(v) AS cms_est FROM ip),
         ex AS (SELECT CAST(sum(ca * cb) AS BIGINT) AS exact_size
                FROM ea JOIN eb USING (k))
         SELECT ex.exact_size, est.cms_est,
           est.cms_est >= ex.exact_size AS never_under
         FROM ex, est""",

    "q86_countmin_freq" ->
      """WITH toks AS (
           SELECT t.term
           FROM (SELECT string_split(text, ' ') AS w FROM documents),
                unnest(w) AS t(term)),
         exact AS (
           SELECT term, CAST(count(*) AS BIGINT) AS exact_cnt
           FROM toks GROUP BY term),
         pos AS (
           SELECT term, exact_cnt, i,
             CAST(CAST('0x' || substr(md5(term), 1 + 8 * i, 8) AS UBIGINT) % 16 AS BIGINT) AS p
           FROM exact, generate_series(0, 3) g(i)),
         counters AS (
           SELECT i, p, CAST(sum(exact_cnt) AS BIGINT) AS c
           FROM pos GROUP BY i, p),
         est AS (
           SELECT pos.term, CAST(min(c.c) AS BIGINT) AS cms_est
           FROM pos JOIN counters c USING (i, p) GROUP BY pos.term)
         SELECT e.term, e.exact_cnt, est.cms_est,
           est.cms_est >= e.exact_cnt AS never_under
         FROM exact e JOIN est USING (term)""",

    // same fold-order pin as the Spark side; constant series bound
    // with a loud overflow guard (DuckDB 1.0 cannot correlate table
    // functions — the q71 pattern)
    "q89_unigram_logprob" ->
      """WITH docs AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         pairs AS (
           SELECT doc_id, i AS pos,
             CASE WHEN len(w) > 128 THEN error('token list exceeds bound 128')
                  ELSE w[i] END AS term
           FROM docs, generate_series(1, 128) g(i)
           WHERE i <= len(w)),
         counts AS (SELECT term, CAST(count(*) AS BIGINT) AS cnt
                    FROM pairs GROUP BY 1),
         total AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM pairs),
         lp AS (
           SELECT doc_id, pos, ln(CAST(cnt AS DOUBLE) / n_total) AS lp
           FROM pairs JOIN counts USING (term), total),
         per AS (
           SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
             list_sum(list(lp ORDER BY pos)) AS logprob
           FROM lp GROUP BY doc_id)
         SELECT doc_id, n_toks, logprob, logprob / n_toks AS avg_logprob
         FROM per""",

    // list(... ORDER BY term) + list_sum mirrors Spark's
    // sort_array(collect_list(struct(term, c))) fold: same term-sorted
    // (binary-collation) addition order, same single ln/division ops
    "q9A_token_entropy" ->
      """WITH pairs AS (
           SELECT doc_id, t.term
           FROM (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
                unnest(w) AS t(term)),
         tf AS (
           SELECT doc_id, term, CAST(count(*) AS BIGINT) AS c
           FROM pairs GROUP BY 1, 2),
         per AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_toks,
             CAST(count(*) AS BIGINT) AS n_distinct,
             list_sum(list(CAST(c AS DOUBLE) * ln(CAST(c AS DOUBLE))
               ORDER BY term)) AS clnc
           FROM tf GROUP BY doc_id)
         SELECT doc_id, n_toks, n_distinct,
           ln(CAST(n_toks AS DOUBLE)) - clnc / n_toks AS entropy
         FROM per""",

    "q77_seq_pack" ->
      s"""WITH d AS (
            SELECT doc_id, doc_id % $Shards AS shard,
              CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens
            FROM documents)
          SELECT doc_id, shard, n_tokens,
            CAST((sum(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens) // $Budget
              AS BIGINT) AS bin
          FROM d""",

    // same √-temperature rate (65536.0/√tokens, floored into 12-bit
    // fixed point — the keep/drop compare is pure integer) and the
    // q59 md5 bucket sampler; 0e0 literals force DOUBLE (not DECIMAL)
    // so both engines run the identical ÷ and √
    "qA0_domain_mixture" ->
      """WITH d AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
           FROM documents),
         avail AS (
           SELECT source, CAST(count(*) AS BIGINT) AS docs_avail,
             CAST(sum(n_tok) AS BIGINT) AS tokens_avail
           FROM d GROUP BY source),
         rates AS (
           SELECT *, least(CAST(4096 AS BIGINT),
             CAST(floor(65536.0e0 / sqrt(CAST(tokens_avail AS DOUBLE))) AS BIGINT))
               AS rate_4096
           FROM avail),
         kept AS (
           SELECT d.source, CAST(count(*) AS BIGINT) AS docs_kept,
             CAST(sum(n_tok) AS BIGINT) AS tokens_kept
           FROM d JOIN rates USING (source)
           WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
                   % 4096 < rate_4096
           GROUP BY d.source)
         SELECT source, docs_avail, tokens_avail, rate_4096,
           coalesce(docs_kept, 0) AS docs_kept,
           coalesce(tokens_kept, 0) AS tokens_kept
         FROM rates LEFT JOIN kept USING (source)""",

    // same 256-bucket md5 assignment and per-mille integer shares
    "qA8_split_assign" ->
      """WITH d AS (
           SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)) AS BIGINT)
               % 256 AS bucket
           FROM documents),
         s AS (
           SELECT *, CASE WHEN bucket < 204 THEN 'train'
                          WHEN bucket < 230 THEN 'val'
                          ELSE 'test' END AS split
           FROM d),
         per AS (
           SELECT source, split, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(n_tok) AS BIGINT) AS n_tokens
           FROM s GROUP BY 1, 2)
         SELECT source, split, n_docs, n_tokens,
           CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS n_total,
           n_docs * 1000
             // CAST(sum(n_docs) OVER (PARTITION BY source) AS BIGINT) AS frac_pm
         FROM per""",

    // same bigrams (q67's comprehension idiom), row_number idiom for
    // the per-context top-3
    "qAE_bigram_lm" ->
      """WITH t AS (SELECT string_split(text, ' ') AS w FROM documents),
         bgs AS (
           SELECT u.bg FROM t,
             unnest(CASE WHEN len(w) >= 2
               THEN [array_to_string(w[i:i+1], ' ')
                     for i in generate_series(1, len(w) - 1)]
               ELSE [] END) AS u(bg)),
         counts AS (
           SELECT string_split(bg, ' ')[1] AS ctx,
             string_split(bg, ' ')[2] AS nxt,
             CAST(count(*) AS BIGINT) AS c
           FROM bgs GROUP BY 1, 2),
         totals AS (
           SELECT ctx, CAST(sum(c) AS BIGINT) AS ctx_total
           FROM counts GROUP BY ctx),
         ranked AS (
           SELECT ctx, nxt, c,
             row_number() OVER (PARTITION BY ctx
               ORDER BY c DESC, nxt ASC) AS rn
           FROM counts)
         SELECT ctx, nxt, c, ctx_total, c * 1000 // ctx_total AS p_pm
         FROM ranked JOIN totals USING (ctx)
         WHERE rn <= 3""",

    // (cnt DESC, pair ASC) is a total order, so the 20-row cut is
    // deterministic in both engines
    "qB0_bpe_pairs" ->
      """WITH words AS (
           SELECT t.w AS w, CAST(count(*) AS BIGINT) AS wc
           FROM (SELECT string_split(text, ' ') AS ws FROM documents),
                unnest(ws) AS t(w)
           WHERE len(t.w) >= 2
           GROUP BY t.w),
         pairs AS (
           -- constant series bound (32 ≫ max word length 8 in the
           -- synthetic corpus); overflow fails loudly, never silently
           SELECT CASE WHEN len(w) > 33
                       THEN error('word exceeds pair bound 32')
                       ELSE substring(w, i, 2) END AS pair, wc
           FROM words, generate_series(1, 32) g(i)
           WHERE i <= len(w) - 1)
         SELECT pair, CAST(sum(wc) AS BIGINT) AS cnt
         FROM pairs GROUP BY pair
         ORDER BY cnt DESC, pair ASC
         LIMIT 20""",

    "qB1_ks_drift" ->
      """WITH v AS (
           SELECT n_chars AS x,
             CASE WHEN CAST(substring(source, 4, 8) AS INTEGER) < 10
                  THEN 1 ELSE 0 END AS a
           FROM documents),
         cnt AS (
           SELECT x, CAST(sum(a) AS BIGINT) AS ca,
             CAST(sum(1 - a) AS BIGINT) AS cb
           FROM v GROUP BY x),
         cum AS (
           SELECT x,
             CAST(sum(ca) OVER w AS BIGINT) AS cuma,
             CAST(sum(cb) OVER w AS BIGINT) AS cumb
           FROM cnt
           WINDOW w AS (ORDER BY x
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)),
         tot AS (
           SELECT CAST(sum(ca) AS BIGINT) AS na,
             CAST(sum(cb) AS BIGINT) AS nb
           FROM cnt)
         SELECT na, nb,
           CAST(max(abs(cuma * nb - cumb * na)) AS BIGINT) AS d_scaled,
           CAST(max(abs(cuma * nb - cumb * na)) AS DOUBLE) / (na * nb) AS ks
         FROM cum, tot
         GROUP BY na, nb""",

    // identical weight literal; list_sum folds the products in list
    // order exactly like the ArrayDot codegen loop (q45 precedent)
    "qBC_linear_scoring" -> {
      val w = (0 until 64).map(j => ((j * 37) % 21 - 10) / 10.0)
        .mkString("[", ", ", "]")
      s"""WITH scored AS (
            SELECT label,
              list_sum(list_transform(
                list_zip(list_transform(embedding, x -> CAST(x AS DOUBLE)),
                         $w),
                p -> p[1] * p[2])) + 0.25 AS z
            FROM embeddings)
          SELECT label,
            CASE WHEN z < -1 THEN 'z1_lt_-1' WHEN z < 0 THEN 'z2_neg'
                 WHEN z < 1 THEN 'z3_pos' ELSE 'z4_ge_1' END AS bucket,
            count(*) AS n, min(z) AS min_z, max(z) AS max_z
          FROM scored GROUP BY 1, 2"""
    },

    // same 15-hex-char md5 prefix → 60-bit integer priority
    "qBF_bottomk_sample" ->
      """WITH pr AS (
           SELECT source, doc_id,
             CAST(CAST('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 15)
                  AS UBIGINT) AS BIGINT) AS priority
           FROM documents)
         SELECT source, doc_id, priority FROM (
           SELECT *, row_number() OVER (PARTITION BY source
             ORDER BY priority ASC, doc_id ASC) AS rn
           FROM pr) t
         WHERE rn <= 5""",

    // same rank, cap, completeness gate, and integer division
    "qE6_quantile_norm" ->
      """WITH e AS (
           SELECT event_type, event_id,
             CAST(round(value * 1000000) AS BIGINT) AS micro
           FROM events WHERE value IS NOT NULL),
         r AS (
           SELECT event_type, micro,
             row_number() OVER (PARTITION BY event_type
               ORDER BY micro, event_id) AS r
           FROM e),
         f AS (SELECT * FROM r WHERE r <= 2000),
         t AS (
           SELECT CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
           FROM f),
         g AS (
           SELECT r, count(*) AS n_at_rank,
             CAST(sum(micro) AS BIGINT) AS sum_micro
           FROM f GROUP BY r)
         SELECT CAST(r AS BIGINT) AS r, t.n_types,
           sum_micro // t.n_types AS norm_micro
         FROM g, t WHERE n_at_rank = t.n_types""",

    // same cents cells, same leave-one-out window subtraction, same
    // one pinned division
    "q116_target_encode_oof" ->
      """WITH g AS (
           SELECT c_mktsegment AS seg, c_custkey % 5 AS fold,
             CAST(count(*) AS BIGINT) AS n_in,
             CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT) AS s_in
           FROM customer GROUP BY 1, 2),
         t AS (
           SELECT seg, fold, n_in, s_in,
             CAST(sum(n_in) OVER (PARTITION BY seg) AS BIGINT) AS n_tot,
             CAST(sum(s_in) OVER (PARTITION BY seg) AS BIGINT) AS s_tot
           FROM g)
         SELECT seg, fold, n_in, n_tot - n_in AS n_out,
           CAST(s_tot - s_in AS DOUBLE) / (n_tot - n_in) / 100 AS oof_mean
         FROM t""",

    // same 13-hex md5 uniforms, same u² outcome rate, same nano-unit
    // confidence sums and pinned final divisions
    "q118_calibration_bins" ->
      """WITH d AS (
           SELECT doc_id,
             CAST(CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 13))
               AS BIGINT) AS DOUBLE) / 4.503599627370496e15 AS u,
             CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR) || '|y'), 1, 13))
               AS BIGINT) AS h2
           FROM documents),
         b AS (
           SELECT CAST(floor(u * 10) AS BIGINT) AS bin, u,
             h2 % 1000000 < CAST(floor(u * u * 1000000) AS BIGINT) AS hit
           FROM d),
         g AS (
           SELECT bin, CAST(count(*) AS BIGINT) AS n,
             CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_hit,
             CAST(sum(CAST(floor(u * 1e9) AS BIGINT)) AS BIGINT) AS conf_fp
           FROM b GROUP BY bin)
         SELECT bin, n, n_hit, conf_fp,
           CAST(n_hit AS DOUBLE) / n AS accuracy,
           CAST(conf_fp AS DOUBLE) / n / 1e9 AS mean_conf,
           abs(CAST(n_hit AS DOUBLE) / n - CAST(conf_fp AS DOUBLE) / n / 1e9)
             AS gap
         FROM g""",

    // same micro-unit √tokens, same exact normalizers over the
    // collapsed domain frame, same pinned share divisions
    "q11D_temp_mixture" ->
      """WITH s AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
             CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
           FROM documents GROUP BY source),
         f AS (
           SELECT *, CAST(floor(sqrt(CAST(n_tokens AS DOUBLE)) * 1e6) AS BIGINT)
             AS s_fp
           FROM s),
         t AS (
           SELECT *, CAST(sum(s_fp) OVER () AS BIGINT) AS tot_fp,
             CAST(sum(n_tokens) OVER () AS BIGINT) AS tot_tokens
           FROM f)
         SELECT source, n_docs, n_tokens, s_fp,
           CAST(s_fp AS DOUBLE) / tot_fp AS weight,
           (CAST(s_fp AS DOUBLE) / tot_fp)
             / (CAST(n_tokens AS DOUBLE) / tot_tokens) AS factor
         FROM t"""
  )
}
