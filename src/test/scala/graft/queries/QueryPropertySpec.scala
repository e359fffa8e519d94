package graft.queries

import org.apache.spark.sql.functions._

import graft.{SparkEntry, SparkSpec}

/** Invariants for the round-5 operators that a hash-equality oracle
  * can't express: algebraic bounds, relabeling invariance, and
  * monotone stage counts — run at sf0.001 so the whole suite stays
  * fast. */
class QueryPropertySpec extends SparkSpec {

  private val dir = "/root/testdata/sf0.001"

  test("qB1: KS statistic is a bounded ECDF distance") {
    val r = SparkEntry.queries("qB1_ks_drift")(spark, dir).collect()(0)
    val na = r.getAs[Long]("na")
    val nb = r.getAs[Long]("nb")
    val d = r.getAs[Long]("d_scaled")
    val ks = r.getAs[Double]("ks")
    assert(na > 0 && nb > 0)
    assert(d >= 0 && d <= na * nb, "scaled D outside [0, na*nb]")
    assert(ks >= 0.0 && ks <= 1.0)
  }

  test("qB2: triangle summary is invariant under node relabeling") {
    import graft.queries.GraphQueries
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .where(col("l_orderkey") % 8 === 0)
      .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
    def edges(f: org.apache.spark.sql.Column => org.apache.spark.sql.Column) =
      li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .select(least(f(col("a.p")), f(col("b.p"))).as("p1"),
          greatest(f(col("a.p")), f(col("b.p"))).as("p2"))
        .distinct()
    val base = GraphQueries.triangleCount(edges(identity)).collect()(0)
    // order-reversing injection: id -> C - id flips every degree tie
    // and the whole orientation; counts must not move
    val relabeled = GraphQueries
      .triangleCount(edges(c => lit(1000000L) - c)).collect()(0)
    assert(base.getAs[Long]("n_triangles") === relabeled.getAs[Long]("n_triangles"))
    assert(base.getAs[Long]("n_wedges") === relabeled.getAs[Long]("n_wedges"))
    assert(base.getAs[Long]("n_edges") === relabeled.getAs[Long]("n_edges"))
  }

  test("qBD: k-center selection radius is non-increasing") {
    val rows = SparkEntry.queries("qBD_kcenter_coreset")(spark, dir)
      .orderBy("round").collect()
    assert(rows.length === 3)
    val radii = rows.map(_.getAs[Double]("radius2"))
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"radius grew across rounds: ${radii.mkString(", ")}")
    assert(rows.map(_.getAs[Long]("center_id")).distinct.length === 3,
      "a center was selected twice")
  }

  test("qC1: curation stage counts are monotone non-increasing") {
    val r = SparkEntry.queries("qC1_curation_pipeline")(spark, dir).collect()
    assert(r.nonEmpty)
    val h = r.head
    val nIn = h.getAs[Long]("n_input")
    val nF = h.getAs[Long]("n_filtered")
    val nE = h.getAs[Long]("n_exact")
    val nN = h.getAs[Long]("n_near")
    assert(nIn >= nF && nF >= nE && nE >= nN && nN > 0,
      s"stage counts not monotone: $nIn >= $nF >= $nE >= $nN")
    // packed docs across all bins == survivors
    assert(r.map(_.getAs[Long]("n_docs")).sum === nN)
  }

  test("qB0: BPE pair counts are bounded by the corpus pair total") {
    val rows = SparkEntry.queries("qB0_bpe_pairs")(spark, dir).collect()
    assert(rows.length <= 20 && rows.nonEmpty)
    val counts = rows.map(_.getAs[Long]("cnt"))
    assert(counts.zip(counts.tail).forall { case (a, b) => b <= a },
      "top-20 not sorted by count")
    import graft.text.TextStats
    val totalPairs = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(TextStats.tokens(col("text"))).as("w"))
      .where(length(col("w")) >= 2)
      .agg(sum(length(col("w")) - 1)).head().getLong(0)
    assert(counts.sum <= totalPairs)
  }

  test("qC2: banding finds every exact duplicate hash") {
    // inject a guaranteed duplicate by unioning a doc with itself
    // under a new id, then check the pair surfaces with hamming 0
    val docs = spark.read.parquet(s"$dir/documents.parquet")
    val dup = docs.orderBy("doc_id").limit(1)
      .select((col("doc_id") + 1000000L).as("doc_id"), col("text"))
    import graft.dedup.Dedup
    val h = docs.select(col("doc_id"), col("text"))
      .unionByName(dup)
      .select(col("doc_id"), Dedup.md5Long(col("text")).as("ph"))
    val bands = h.select(col("doc_id"), col("ph"),
        explode(sequence(lit(0), lit(3))).as("band"))
      .withColumn("bv", expr("shiftright(ph, band * 15) & 32767"))
    val cand = bands.as("a").join(bands.as("b"),
        col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
          && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"),
        expr("bit_count(a.ph ^ b.ph)").as("hamming"))
      .distinct()
    val exact = cand.filter(col("id2") === col("id1") + 1000000L
      && col("hamming") === 0)
    assert(exact.count() === 1L, "planted duplicate not found by banding")
  }

  test("qED: GroupedTopK selection equals the window idiom; keys are ≤ 0") {
    import org.apache.spark.sql.expressions.Window
    val two53 = 9007199254740992L
    val d = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), col("doc_id"), col("n_chars"))
      .withColumn("u",
        ((graft.dedup.Dedup.md5Long(col("doc_id").cast("string")) % two53)
          + lit(1L)).cast("double") / lit(two53.toDouble))
      .withColumn("skey", graft.functions.LnExact(col("u")) / col("n_chars"))
    val win = d.withColumn("rn", row_number().over(
        Window.partitionBy("source")
          .orderBy(col("skey").desc, col("doc_id").asc)))
      .where(col("rn") <= 5).select("source", "doc_id")
    val op = SparkEntry.queries("qED_weighted_reservoir")(spark, dir)
      .select("source", "doc_id")
    assert(op.exceptAll(win).isEmpty && win.exceptAll(op).isEmpty,
      "operator top-5 diverges from the window idiom")
    // ln(u ≤ 1) ≤ 0 and w > 0, so every key is non-positive — a
    // positive key means the uniform construction broke
    assert(d.filter(col("skey") > 0.0).isEmpty)
  }

  test("qF0: Gram matrix is Cauchy–Schwarz-consistent with PSD diagonal") {
    val g = SparkEntry.queries("qF0_gram_matrix")(spark, dir).collect()
      .map(r => ((r.getAs[Int]("i"), r.getAs[Int]("j")), r.getAs[Long]("s_xy"))).toMap
    assert(g.size === 136)
    for (i <- 0 until 16) assert(g((i, i)) >= 0L, s"negative diagonal at $i")
    for (i <- 0 until 16; j <- i + 1 until 16) {
      val xy = BigInt(g((i, j))); val xx = BigInt(g((i, i))); val yy = BigInt(g((j, j)))
      assert(xy * xy <= xx * yy, s"Cauchy–Schwarz violated at ($i,$j)")
    }
  }

  test("qF1: candles bracket open/close inside [low, high]") {
    val rows = SparkEntry.queries("qF1_ohlc_candles")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val lo = r.getAs[Double]("low"); val hi = r.getAs[Double]("high")
      assert(lo <= hi)
      assert(r.getAs[Double]("open") >= lo && r.getAs[Double]("open") <= hi)
      assert(r.getAs[Double]("close") >= lo && r.getAs[Double]("close") <= hi)
      assert(r.getAs[Long]("n") >= 1L)
    }
  }

  test("qF2: Gini is in [0, 1) and zero for a uniform group") {
    val rows = SparkEntry.queries("qF2_gini_concentration")(spark, dir).collect()
    assert(rows.length === 20)
    rows.foreach { r =>
      val g = r.getAs[Double]("gini")
      assert(g >= 0.0 && g < 1.0, s"${r.getAs[String]("source")}: gini $g")
    }
    // uniform sizes → rank_mass = x·n(n+1)/2 → numerator is exactly 0
    import spark.implicits._
    val uni = Seq.tabulate(50)(i => ("s", i.toLong, 100L))
      .toDF("source", "doc_id", "n_chars")
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy("source").orderBy(col("n_chars").asc, col("doc_id").asc)
    val gU = uni.withColumn("i", row_number().over(w).cast("long"))
      .groupBy("source")
      .agg(count(lit(1)).as("n"), sum("n_chars").as("t"),
        sum(col("i") * col("n_chars")).as("rm"))
      .select(((lit(2L) * col("rm") - (col("n") + 1) * col("t")).cast("double")
        / (col("n") * col("t")).cast("double")).as("gini"))
      .collect()(0).getAs[Double]("gini")
    assert(gU === 0.0)
  }

  test("qF3: group split never leaks; audit counts are consistent") {
    val r = SparkEntry.queries("qF3_split_leakage")(spark, dir).collect()(0)
    assert(r.getAs[Long]("n_leaky_group_split") === 0L)
    assert(r.getAs[Long]("n_leaky_doc_split") <= r.getAs[Long]("n_multi"))
    assert(r.getAs[Long]("n_multi") < r.getAs[Long]("n_clusters"))
    assert(r.getAs[Long]("n_train") + r.getAs[Long]("n_val")
      + r.getAs[Long]("n_test") >= r.getAs[Long]("n_clusters"))
  }

  test("qF4: decayed score is bounded by the undecayed fixed-point sum") {
    val rows = SparkEntry.queries("qF4_time_decay")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val s = r.getAs[Long]("s_fp")
      assert(s >= 0L, "negative decayed mass from positive values")
      // the float score is EXACTLY the advertised single division of
      // the integer sum — no hidden float accumulation
      assert(r.getAs[Double]("decayed_score") === s.toDouble / 4.096e7)
    }
  }

  test("qEE: repetition signals are consistent per-doc invariants") {
    val rows = SparkEntry.queries("qEE_doc_repetition")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val nBig = r.getAs[Long]("n_big"); val topBig = r.getAs[Long]("top_big")
      val nSpan = r.getAs[Long]("n_span"); val nDup = r.getAs[Long]("n_dup_pos")
      assert(topBig >= 1 && topBig <= nBig)
      assert(nDup >= 0 && nDup <= nSpan)
      // a duplicated 5-gram contributes its whole count (≥ 2):
      // n_dup_pos can never be exactly 1
      assert(nDup != 1, s"doc ${r.getAs[Long]("doc_id")}: impossible dup count 1")
      // a doc with ≥6 tokens has one more bigram position than
      // 5-gram positions deficit of exactly 3
      assert(nBig === nSpan + 3,
        "bigram/5-gram position counts inconsistent for the same token stream")
    }
  }

  test("qF5: suppression is monotone in k and rates are proper fractions") {
    val rows = SparkEntry.queries("qF5_k_anonymity")(spark, dir)
      .orderBy("k").collect()
    assert(rows.length === 4)
    val risk = rows.map(_.getAs[Long]("rows_at_risk"))
    assert(risk.zip(risk.tail).forall { case (a, b) => a <= b },
      "rows at risk shrank as k grew")
    rows.foreach { r =>
      val rate = r.getAs[Double]("suppression_rate")
      assert(rate >= 0.0 && rate <= 1.0)
      assert(r.getAs[Long]("classes_at_risk") <= r.getAs[Long]("n_classes"))
    }
  }

  test("qF8: TPC-H referential integrity holds (zero orphans, 7 edges)") {
    val rows = SparkEntry.queries("qF8_ri_audit")(spark, dir).collect()
    assert(rows.length === 7)
    rows.foreach { r =>
      assert(r.getAs[Long]("orphans") === 0L,
        s"edge ${r.getAs[String]("edge")} reported orphans on clean data")
      assert(r.getAs[Long]("child_rows") > 0L)
    }
  }

  test("qF9: best-split gain is a nonnegative variance reduction") {
    val rows = SparkEntry.queries("qF9_gbdt_hist")(spark, dir).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      // SL²/nL + SR²/nR ≥ S²/n (Cauchy–Schwarz): any split's gain
      // is nonnegative, so the argmax must be too
      assert(r.getAs[Double]("gain") >= 0.0)
      assert(r.getAs[Long]("n_l") > 0 && r.getAs[Long]("n_r") > 0)
    }
  }

  test("q100: weighted median is the first qty whose doubled mass covers the total") {
    val rows = SparkEntry.queries("q100_weighted_median")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val cum = r.getAs[Long]("cum_at_median")
      val tot = r.getAs[Long]("total_w")
      assert(2 * cum >= tot, "selected qty does not cover half the mass")
      assert(cum <= tot)
    }
  }

  test("q101: attribution conserves exactly 1000 milli-credits per touched purchase") {
    val total = SparkEntry.queries("q101_attribution")(spark, dir)
      .agg(sum("milli_credits")).collect()(0).getLong(0)
    // independently recount purchases with >=1 qualifying click
    val e = graft.io.Sources.table(spark, dir, "events")
      .withColumn("us", expr("unix_micros(ts)"))
    val p = e.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("p_id"), col("us").as("p_us"))
    val c = e.filter(col("event_type") === "click")
      .select(col("user_id"), col("us").as("c_us"))
    val touched = p.join(c, Seq("user_id"))
      .filter(col("c_us") < col("p_us")
        && col("p_us") - col("c_us") <= 1800000000L)
      .select("p_id").distinct().count()
    assert(total === 1000L * touched,
      s"credit mass $total != 1000 x $touched touched purchases")
  }

  test("q102: streak partition is consistent with distinct active days") {
    val rows = SparkEntry.queries("q102_activity_streaks")(spark, dir)
    val sums = rows.agg(sum("n_active_days"), sum("n_streaks")).collect()(0)
    val distinctDays = graft.io.Sources.table(spark, dir, "events")
      .select(col("user_id"), expr("unix_micros(ts) div 86400000000").as("d"))
      .distinct().count()
    assert(sums.getLong(0) === distinctDays,
      "streak lengths do not partition the active-day set")
    rows.collect().foreach { r =>
      assert(r.getAs[Long]("max_streak") <= r.getAs[Long]("n_active_days"))
      assert(r.getAs[Long]("n_streaks") >= 1L)
    }
  }

  test("q103: mix and rate effects sum to the overall mean shift") {
    val rows = SparkEntry.queries("q103_mix_shift")(spark, dir).collect()
    assert(rows.nonEmpty)
    val t1 = rows.map(_.getAs[Long]("n_1")).sum.toDouble
    val t2 = rows.map(_.getAs[Long]("n_2")).sum.toDouble
    val meanShift = rows.map(_.getAs[Long]("s_2")).sum / t2 -
      rows.map(_.getAs[Long]("s_1")).sum / t1
    val decomposed = rows.map(r =>
      r.getAs[Double]("mix_effect") + r.getAs[Double]("rate_effect")).sum
    assert(math.abs(decomposed - meanShift) < 1e-6,
      s"decomposition identity broken: $decomposed vs $meanShift")
  }

  test("q104: silhouette scores stay in [-1, 1]") {
    val rows = SparkEntry.queries("q104_silhouette")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Double]("mean_sil")
      assert(m >= -1.0 && m <= 1.0)
      assert(r.getAs[Long]("n_neg") <= r.getAs[Long]("n"))
    }
  }

  test("q10B: Neyman allocation spends exactly the 1000-row budget") {
    val rows = SparkEntry.queries("q10B_neyman_allocation")(spark, dir).collect()
    assert(rows.map(_.getAs[Long]("alloc")).sum === 1000L)
    rows.foreach(r => assert(r.getAs[Long]("alloc") >= 0L))
  }

  test("q10C: capture-recapture overlap is bounded by both samples") {
    val r = SparkEntry.queries("q10C_capture_recapture")(spark, dir).collect()(0)
    val m = r.getAs[Long]("m")
    assert(m <= math.min(r.getAs[Long]("n1"), r.getAs[Long]("n2")))
    assert(r.getAs[Long]("n_est") > 0L)
  }

  test("q10E: the shipped contract passes on clean TPC-H data") {
    val rows = SparkEntry.queries("q10E_data_contract")(spark, dir).collect()
    assert(rows.length === 6)
    rows.foreach { r =>
      assert(r.getAs[Boolean]("pass"),
        s"rule ${r.getAs[String]("rule")} flagged violations on clean data")
    }
  }

  test("qFE: correlation matrix diagonal is 1 and cells are bounded") {
    val rows = SparkEntry.queries("qFE_corr_matrix")(spark, dir).collect()
    assert(rows.length === 10)
    rows.foreach { r =>
      val c = r.getAs[Double]("corr")
      assert(math.abs(c) <= 1.0 + 1e-12, s"|corr| > 1: $c")
      if (r.getAs[String]("f1") == r.getAs[String]("f2"))
        // sqrt(a)*sqrt(a) reconstructs a only to ulp, so the
        // diagonal is 1 within float error, not bit-exactly
        assert(math.abs(c - 1.0) < 1e-12)
    }
  }

  test("q112: lateness audit counts every event exactly once") {
    val rows = SparkEntry.queries("q112_lateness_audit")(spark, dir).collect()
    val total = rows.map(_.getAs[Long]("n")).sum
    val nEvents = graft.io.Sources.table(spark, dir, "events").count()
    assert(total === nEvents)
    rows.foreach(r =>
      assert(r.getAs[Long]("n_late_1m") <= r.getAs[Long]("n")))
  }

  test("qFB: linkage scores respect the weight bounds") {
    val rows = SparkEntry.queries("qFB_fs_linkage")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_pairs")
      val sum = r.getAs[Long]("sum_score")
      assert(r.getAs[Long]("max_score") <= 5400L)
      assert(sum >= -1900L * n && sum <= 5400L * n)
      assert(r.getAs[Double]("match_rate") >= 0.0
        && r.getAs[Double]("match_rate") <= 1.0)
    }
  }

  test("q113: RRF scores reconstruct from ranks and the cut is total") {
    val rows = SparkEntry.queries("q113_hybrid_rrf")(spark, dir)
      .orderBy("rnk").collect()
    assert(rows.nonEmpty && rows.length <= 10)
    assert(rows.map(_.getAs[Long]("rnk")).toSeq ===
      (1L to rows.length).toSeq)
    var prev = Long.MaxValue
    rows.foreach { r =>
      val r1 = Option(r.getAs[Any]("r1")).map(_.asInstanceOf[Long])
      val r2 = Option(r.getAs[Any]("r2")).map(_.asInstanceOf[Long])
      assert(r1.isDefined || r2.isDefined, "doc in neither head")
      r1.foreach(v => assert(v >= 1 && v <= 100))
      r2.foreach(v => assert(v >= 1 && v <= 100))
      val expected = r1.map(v => 1000000000L / (60 + v)).getOrElse(0L) +
        r2.map(v => 1000000000L / (60 + v)).getOrElse(0L)
      assert(r.getAs[Long]("rrf_fp") === expected)
      assert(r.getAs[Long]("rrf_fp") <= prev, "fused order not descending")
      prev = r.getAs[Long]("rrf_fp")
    }
  }

  test("q114: CUPED reduction is consistent with its variance identity") {
    val rows = SparkEntry.queries("q114_cuped")(spark, dir).collect()
    assert(rows.length === 2)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_users") > 1)
      val varY = r.getAs[Double]("var_y")
      val varAdj = r.getAs[Double]("var_adj")
      val red = r.getAs[Double]("reduction")
      assert(varY > 0.0 && varAdj >= 0.0)
      assert(math.abs(red - (1.0 - varAdj / varY)) < 1e-12)
    }
  }

  test("q115: SRM chi-square is consistent with arm counts") {
    val rows = SparkEntry.queries("q115_srm_check")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val na = r.getAs[Long]("n_a"); val nb = r.getAs[Long]("n_b")
      val chi2 = r.getAs[Double]("chi2")
      assert(na + nb > 0)
      assert(math.abs(chi2 -
        (na - nb).toDouble * (na - nb) / (na + nb)) < 1e-9)
      assert(r.getAs[Boolean]("srm_flag") === (chi2 > 3.841))
    }
  }

  test("q116: OOF encoding excludes exactly the in-fold rows") {
    val rows = SparkEntry.queries("q116_target_encode_oof")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val bySeg = rows.groupBy(_.getAs[String]("seg"))
    bySeg.values.foreach { fs =>
      val tot = fs.map(_.getAs[Long]("n_in")).sum
      fs.foreach { r =>
        assert(r.getAs[Long]("n_out") === tot - r.getAs[Long]("n_in"))
        assert(!r.getAs[Double]("oof_mean").isNaN)
      }
    }
  }

  test("q117: PSI terms are non-negative and total to the sum") {
    val rows = SparkEntry.queries("q117_psi_drift")(spark, dir).collect()
    assert(rows.nonEmpty)
    val total = rows.head.getAs[Long]("psi_total_fp")
    // each term (p_b-p_a)·ln(p_b/p_a) ≥ 0 mathematically; flooring
    // the IEEE product can shave at most one nano-unit below zero
    rows.foreach(r => assert(r.getAs[Long]("term_fp") >= -1L))
    assert(rows.map(_.getAs[Long]("term_fp")).sum === total)
    rows.foreach(r =>
      assert(r.getAs[Long]("psi_total_fp") === total, "total not constant"))
  }

  test("q118: calibration bins partition the corpus and bound confidence") {
    val rows = SparkEntry.queries("q118_calibration_bins")(spark, dir)
      .collect()
    val nDocs = graft.io.Sources.table(spark, dir, "documents").count()
    assert(rows.map(_.getAs[Long]("n")).sum === nDocs)
    rows.foreach { r =>
      val bin = r.getAs[Long]("bin")
      assert(bin >= 0 && bin <= 9)
      val mc = r.getAs[Double]("mean_conf")
      assert(mc >= bin / 10.0 - 1e-9 && mc < (bin + 1) / 10.0 + 1e-9)
      assert(r.getAs[Long]("n_hit") <= r.getAs[Long]("n"))
      assert(r.getAs[Double]("gap") >= 0.0)
    }
  }

  test("q119: UCB bonus shrinks with arm pulls") {
    val rows = SparkEntry.queries("q119_ucb_bandit")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ===
      (1L to rows.length).toSeq)
    val byN = rows.sortBy(_.getAs[Long]("n"))
    byN.zip(byN.tail).foreach { case (a, b) =>
      if (a.getAs[Long]("n") < b.getAs[Long]("n"))
        assert(a.getAs[Double]("bonus") > b.getAs[Double]("bonus"),
          "bonus not decreasing in n")
    }
    rows.foreach(r => assert(r.getAs[Double]("mean01") <= 1.0 + 1e-12))
  }

  test("q11A: conformal bounds are ordered and coverage is a ratio") {
    val rows = SparkEntry.queries("q11A_conformal_coverage")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("lo_cents") <= r.getAs[Long]("hi_cents"))
      assert(r.getAs[Long]("n_in") <= r.getAs[Long]("n_test"))
      val cov = r.getAs[Double]("coverage")
      assert(cov >= 0.0 && cov <= 1.0)
    }
  }

  test("q11B: Adamic-Adar pairs are novel and weight-bounded") {
    val rows = SparkEntry.queries("q11B_adamic_adar")(spark, dir).collect()
    assert(rows.nonEmpty && rows.length <= 20)
    // max per-neighbor weight is 1/ln(2) (deg=2 floor of the cap)
    val maxW = math.floor(1e9 / math.log(2.0)).toLong
    var prev = Long.MaxValue
    rows.sortBy(_.getAs[Long]("rnk")).foreach { r =>
      val n = r.getAs[Long]("n_common")
      val aa = r.getAs[Long]("aa_fp")
      assert(n >= 1)
      assert(aa <= n * maxW, s"aa_fp $aa exceeds $n × 1/ln2")
      assert(aa <= prev, "not ordered by score")
      prev = aa
      assert(r.getAs[Long]("p1") < r.getAs[Long]("p2"))
    }
  }

  test("q11C: Mann-Kendall S is bounded by the pair count") {
    val rows = SparkEntry.queries("q11C_mann_kendall")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_days")
      val s = r.getAs[Long]("s_stat")
      assert(math.abs(s) <= n * (n - 1) / 2)
      assert(r.getAs[Long]("var18_num") === n * (n - 1) * (2 * n + 5))
      val z = r.getAs[Double]("z")
      val trend = r.getAs[String]("trend")
      assert(trend === (if (z > 1.96) "up" else if (z < -1.96) "down"
        else "none"))
    }
  }

  test("q11E: DP release decomposes into count and bounded noise") {
    val rows = SparkEntry.queries("q11E_dp_histogram")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("released_fp") ===
        r.getAs[Long]("n") * 1000000L + r.getAs[Long]("noise_fp"))
      // |ln(1-2|u-1/2|)| ≤ 52·ln2 ≈ 36.04 for a 52-bit uniform
      assert(math.abs(r.getAs[Long]("noise_fp")) <= 37000000L)
      val u = r.getAs[Double]("u")
      assert(u >= 0.0 && u < 1.0)
    }
  }

  test("q11F: rolling frames are bounded and deltas reconcile") {
    val rows = SparkEntry.queries("q11F_lag_features")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n7 = r.getAs[Long]("roll7_n")
      assert(n7 >= 1 && n7 <= 7)
      assert(r.getAs[Long]("roll7_sum") >= r.getAs[Long]("cents"),
        "rolling sum below current day (negative spend?)")
      val lag1 = Option(r.getAs[Any]("lag1")).map(_.asInstanceOf[Long])
      val d1 = Option(r.getAs[Any]("delta1")).map(_.asInstanceOf[Long])
      assert(lag1.isDefined === d1.isDefined)
      (lag1, d1) match {
        case (Some(l), Some(d)) => assert(d === r.getAs[Long]("cents") - l)
        case _ =>
      }
    }
  }

  test("q120: shared shingles never exceed the shingle count") {
    val rows = SparkEntry.queries("q120_ngram_novelty")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val n = r.getAs[Long]("n_shingles"); val s = r.getAs[Long]("n_shared")
      assert(n > 0 && s >= 0 && s <= n)
      val dup = r.getAs[Double]("dup_rate")
      assert(math.abs(r.getAs[Double]("novelty") - (1.0 - dup)) < 1e-15)
    }
  }

  test("q121: interim looks accumulate and boundaries tighten") {
    val rows = SparkEntry.queries("q121_group_sequential")(spark, dir)
      .orderBy("look").collect()
    assert(rows.map(_.getAs[Long]("look")).toSeq === Seq(1L, 2L, 3L, 4L))
    rows.zip(rows.tail).foreach { case (a, b) =>
      assert(a.getAs[Long]("n_a") <= b.getAs[Long]("n_a"))
      assert(a.getAs[Long]("n_b") <= b.getAs[Long]("n_b"))
      assert(a.getAs[Double]("obf_bound") > b.getAs[Double]("obf_bound"))
    }
    rows.foreach(r => assert(r.getAs[Boolean]("crossed") ===
      (math.abs(r.getAs[Double]("z")) > r.getAs[Double]("obf_bound"))))
  }

  test("q122: jackknife estimates reconstruct from bucket totals") {
    val rows = SparkEntry.queries("q122_jackknife_ratio")(spark, dir)
      .collect()
    assert(rows.nonEmpty)
    val tnum = rows.map(_.getAs[Long]("num")).sum
    val tden = rows.map(_.getAs[Long]("den")).sum
    val theta = rows.head.getAs[Double]("theta")
    assert(math.abs(theta - tnum.toDouble / tden) < 1e-12)
    rows.foreach { r =>
      val exp = (tnum - r.getAs[Long]("num")).toDouble /
        (tden - r.getAs[Long]("den"))
      assert(math.abs(r.getAs[Double]("r_i") - exp) < 1e-12)
      assert(r.getAs[Double]("var_jk") >= 0.0)
      assert(r.getAs[Double]("var_jk") === rows.head.getAs[Double]("var_jk"))
    }
  }

  test("q11D: temperature mixture weights normalize and damp the head") {
    val rows = SparkEntry.queries("q11D_temp_mixture")(spark, dir).collect()
    assert(rows.nonEmpty)
    assert(math.abs(rows.map(_.getAs[Double]("weight")).sum - 1.0) < 1e-9)
    val byTok = rows.sortBy(_.getAs[Long]("n_tokens"))
    byTok.zip(byTok.tail).foreach { case (a, b) =>
      if (a.getAs[Long]("n_tokens") < b.getAs[Long]("n_tokens"))
        assert(a.getAs[Double]("factor") > b.getAs[Double]("factor"),
          "sqrt damping must boost smaller domains more")
    }
  }

  test("cents-sum algebra matches an independent float recomputation (q01/q04)") {
    // Round-11 cross-form guard: the cents oracles are necessarily
    // the SAME integer algebra as the Spark side, so a mis-scaled
    // divisor (/1000 vs /10000) or a dropped (100 − disc_c) factor
    // would hash GREEN on both engines. Recompute each output from
    // the raw doubles the old float way and require agreement within
    // float-fold slack: |cents_form − float_form| ≤ n·1e-6 for the
    // summed columns (the float recomputation itself wobbles with
    // partition count), and a fixed 1e-9 for avg_disc whose operands
    // are single-digit decimals.
    val q01 = SparkEntry.queries("q01_agg_pricing")(spark, dir).collect()
    val li = spark.read.parquet(s"$dir/lineitem.parquet")
      .filter(col("l_shipdate") <= lit(java.sql.Timestamp.valueOf("2000-09-02 00:00:00")))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("fref"),
        sum("l_quantity").as("qref"), avg("l_discount").as("dref"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        (r.getAs[Double]("fref"), r.getAs[Double]("qref"),
          r.getAs[Double]("dref"), r.getAs[Long]("n"))).toMap
    q01.foreach { r =>
      val (fref, qref, dref, n) =
        li((r.getString(0), r.getString(1)))
      val slack = n.toDouble * 1e-6
      assert(math.abs(r.getAs[Double]("sum_disc_price") - fref) <= slack,
        s"q01 sum_disc_price drifted from the float recomputation: " +
          s"${r.getAs[Double]("sum_disc_price")} vs $fref")
      assert(math.abs(r.getAs[Double]("sum_qty") - qref) <= slack)
      assert(math.abs(r.getAs[Double]("avg_disc") - dref) <= 1e-9)
    }
    val q04 = SparkEntry.queries("q04_join_shuffle")(spark, dir).collect()
    val rev = spark.read.parquet(s"$dir/orders.parquet")
      .join(spark.read.parquet(s"$dir/lineitem.parquet"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderpriority"), year(col("o_orderdate")).as("y"))
      .agg(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))).as("fref"),
        count(lit(1)).as("n"))
      .collect().map(r => (r.getString(0), r.getInt(1)) ->
        (r.getAs[Double]("fref"), r.getAs[Long]("n"))).toMap
    q04.foreach { r =>
      val (fref, n) = rev((r.getString(0), r.getAs[Int]("o_year")))
      assert(math.abs(r.getAs[Double]("revenue") - fref) <= n.toDouble * 1e-6,
        s"q04 revenue drifted from the float recomputation")
    }
  }

  /** An sf dir holding only `documents.parquet`, written from `df`. */
  private def documentsDir(df: org.apache.spark.sql.DataFrame): String = {
    val d = graft.io.Scratch.tempDir("qprop_docs")
    df.coalesce(1).write.mode("overwrite").parquet(s"$d/documents.parquet")
    d
  }

  test("q81 over a zero-row documents table keeps its output schema") {
    // the staged JSONL is read back with the schema it was written
    // with; inference over an empty directory would fail or drop columns
    val q = "q81_jsonl_roundtrip"
    val empty = documentsDir(spark.read.parquet(s"$dir/documents.parquet").limit(0))
    SparkEntry.staging(q)(spark, empty)
    val out = SparkEntry.queries(q)(spark, empty)
    SparkEntry.staging(q)(spark, dir)
    val full = SparkEntry.queries(q)(spark, dir)
    assert(out.schema.map(f => (f.name, f.dataType)) ===
      full.schema.map(f => (f.name, f.dataType)))
    assert(out.collect().isEmpty)
  }

  test("q65 keeps per-row base counts and per-doc_id bigram counts under duplicate and null ids") {
    // the spread single-pass form must match the plain equi-join form:
    // `top` aggregates over every row sharing a doc_id, a null doc_id
    // never matches and gets 0/0
    import spark.implicits._
    val docs = Seq[(Option[Long], String)](
      (Some(1L), "a b a b"), (Some(1L), "a b c"), (None, "x y x y"),
      (None, "z"), (Some(2L), "solo"), (Some(3L), ""), (Some(4L), "p q p q p q"))
      .toDF("doc_id", "text")
    val d = documentsDir(docs)
    val got = SparkEntry.queries("q65_repetition")(spark, d)
    val toks = graft.text.TextStats.tokens(col("text"))
    val base = docs.select(col("doc_id"), size(toks).as("n_tokens"),
      (size(toks) - size(array_distinct(toks))).as("n_dup"))
    val top = docs.select(col("doc_id"),
        explode(graft.text.TextStats.shingles(toks, 2)).as("bg"))
      .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
      .groupBy("doc_id").agg(max("n").as("top_bigram_n"), sum("n").as("n_bigrams"))
    val want = base.join(top, Seq("doc_id"), "left")
      .na.fill(0L, Seq("top_bigram_n", "n_bigrams"))
    assert(got.columns.toSeq === want.columns.toSeq)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toSeq).toSeq
      .sortBy(_.mkString("|"))
    assert(rows(got) === rows(want))
    assert(rows(got).count(_.head == 1L) === 2)
  }

  // Keys whose DataFrame construction still submits Spark jobs (after
  // one warm build, so a table's first parquet schema inference is not
  // counted), each with the reason. Every other key plans lazily.
  private val Iterative = "iterative core: per-round CheckpointStrategy materialization"
  private val Kept = "kept CheckpointStrategy materialization"
  private val Collect = "collect or count at build"
  private val RoundTrip = "round-trip schema inference, kept on purpose"
  private val buildJobKeys: Map[String, String] = Map(
    "q106_rfm_segmentation" -> Kept, // DistributedRank, ×3 quartiles
    "q108_zipf_slope" -> Kept, // DistributedRank
    "q126_bradley_terry" -> Kept,
    "q132_dedup_threshold_pr" -> Kept,
    "q44_jaccard_pairs" -> Iterative, // PPJoin prefix base
    "q57_csv_roundtrip" -> RoundTrip, // the reference's inferred CSV read
    "q74_dedup_clusters" -> Iterative, // connected components
    "q7B_stratified_sample" -> Kept,
    "q84_bloom_membership" -> Kept, // and the sketch collect
    "q98_minhash_jaccard" -> Kept,
    "qA3_pagerank" -> Iterative,
    "qA9_curriculum_bins" -> Kept, // DistributedRank
    "qB2_triangle_count" -> Iterative,
    "qB4_sparse_cosine" -> Collect, // corpus size for the fan-out width
    "qB7_recursive_cte" -> Kept,
    "qBD_kcenter_coreset" -> Iterative,
    "qC1_curation_pipeline" -> Iterative, // connected components
    "qC3_schema_evolution" -> RoundTrip, // the mergeSchema footer union
    "qDB_frequent_pairs" -> Kept,
    "qE2_equidepth_hist" -> Kept, // DistributedRank
    "qE5_naive_bayes" -> Kept,
    "qE8_kcore" -> Iterative,
    "qEA_bloom_join" -> Collect // the bloom sketch
  )

  test("build-job census: only the pinned keys run jobs while being built") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val sc = spark.sparkContext
    val prefix = "build-census:"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        Option(js.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
          .filter(_.startsWith(prefix))
          .foreach(g => jobs.add(g.stripPrefix(prefix)))
    }
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries.toSeq.sortBy(_._1).foreach { case (k, fn) =>
        SparkEntry.staging.get(k).foreach(_(spark, dir))
        fn(spark, dir) // warm: first reads of each table
        sc.setJobGroup(prefix + k, "build only")
        try fn(spark, dir) finally sc.clearJobGroup()
      }
      // the listener bus delivers in order: once this marker job is
      // seen, every build job before it has been counted
      sc.setJobGroup(prefix + "<marker>", "drain")
      try spark.range(1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains("<marker>") && System.nanoTime() < deadline)
        Thread.sleep(50)
      assert(jobs.contains("<marker>"), "listener bus did not drain")
    } finally sc.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val got = jobs.asScala.toSeq.groupMapReduce(identity)(_ => 1)(_ + _) - "<marker>"
    val added = got.keySet -- buildJobKeys.keySet
    val gone = buildJobKeys.keySet -- got.keySet
    assert(added.isEmpty && gone.isEmpty,
      s"build-job set moved (${got.size} keys): now runs jobs while built: " +
        added.toSeq.sorted.map(k => s"$k(${got(k)})").mkString(", ") +
        s"; no longer does: ${gone.toSeq.sorted.mkString(", ")}")
  }
}
