package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.dedup.{Components, Dedup}
import graft.functions.BloomFilter
import graft.io.CheckpointStrategy
import graft.io.Sources.table
import graft.io.Staging
import graft.similarity.Similarity
import graft.text.TextStats

/** Dedup + similarity-search operator surface (builder brief:
  * first-class alongside SURVEY §2): exact dedup, MinHash signatures,
  * LSH candidate pairs, SimHash, bucketed pairwise Jaccard,
  * embedding nearest-neighbor, brute-force cosine top-k, and
  * hyperplane-LSH bucketing. Every query is oracle-checked — the
  * hash families are md5-derived integer arithmetic expressible in
  * both engines, and all float folds are explicit left-to-right.
  */
object DedupSim extends QueryModule {

  private val P = Dedup.P

  /** q132 truth-side degradation knob: posting lists up to this df go
    * through the in-task C(df,2) explode (one shuffle, fastest);
    * above it the shingle is a hub and its pairs come from the
    * spillable sort-merge self-join instead of a non-spillable
    * collect_list array. See the q132 comment for the full contract. */
  private val HubShingleDf = 4096L

  /** q132 fixed-size calibration sample: the N docs with the smallest
    * md5(doc_id). Exceeds the corpus at sf0.01/sf0.1 (sample = all
    * docs, results identical to the full-truth form); binds at sf1+
    * where it caps the Σ C(df,2) truth volume at a constant. A
    * calibration statistic needs a representative pair sample, not
    * every pair — see the q132 comment for the estimator contract. */
  private val CalibSampleDocs = 8192

  /** Demand-sizing quantum for the posting/candidate pair fan-outs
    * (Spread.fanoutSized): one pinned task per this many source docs.
    * Calibrated at sf0.1/sf1 (r16 A/B): ~5 tasks cover the 5k-doc
    * sf0.1 explode at its r14 pre-fanout speed while 50k docs (sf1)
    * saturate the full 32-way width that the r15 A/B measured winning
    * 19.1 -> 10.7 s on qB4. Per-task quantum, not a local core count:
    * at 100 TB units/quantum >> width, so the clamp pins full width. */
  private val FanoutDocsPerTask = 1024L

  /** q49's probe cap (round 12, sf10 oracle discipline): the exact
    * in-bucket radius search emits every near pair, and the replica
    * fixture's factor-F near-dup groups make that OUTPUT quadratic in
    * F (each group alone yields C(F,2) pairs — 247M rows at sf10,
    * and the DuckDB all-pairs twin ate 90 GB before the kernel killed
    * it). The audit form bounds the id1 side to the NearPairProbeCap
    * docs with the smallest (md5(doc_id), doc_id) — "every near pair
    * whose LOWER id is a probe" — keeping the candidate side the FULL
    * corpus (the in-bucket scan is still exercised end-to-end) while
    * output and truth side turn linear. Exceeds the corpus at
    * sf0.01/sf0.1 (500/5,000 docs), so certified small-SF results
    * are byte-identical; binds at sf1+. */
  private val NearPairProbeCap = 8192

  /** q54's sample cap (round 12): q54 pins the banded pigeonhole
    * search's EXACTNESS against an independent all-pairs oracle — a
    * contract about the algorithm, not the corpus, so it holds on any
    * input. The all-pairs twin is O(n²) by definition (1.25e11 pairs
    * at sf10), so both endpoints are bounded to the BandedSampleCap
    * md5 sample (the q58/q132 discipline): the oracle stays an
    * INDEPENDENT brute-force check (16384² /2 ≈ 134M pairs at any
    * scale) and the banded path runs on the same sample. The
    * full-corpus banded scale path remains exercised by q43/q49 and
    * the Dedup operator itself. Exceeds the corpus at sf0.01/sf0.1;
    * binds at sf1+. */
  private val BandedSampleCap = 16384

  /** The q59/qD3/q132 deterministic doc sample: the `cap` documents
    * with the smallest (md5(doc_id), doc_id) — partition-invariant,
    * engine-reproducible, and cheap (a pure row function plus
    * TakeOrdered). */
  private def docSample(s: SparkSession, dir: String, cap: Int): DataFrame =
    table(s, dir, "documents")
      .select(col("doc_id"), md5(col("doc_id").cast("string")).as("mk"))
      .orderBy(col("mk"), col("doc_id"))
      .limit(cap)
      .select("doc_id")

  /** qB4's stopword-dimension cut: 3-gram dims with document
    * frequency above the cap never enter the pair build (bounding the
    * quadratic Σ C(df,2) candidate term at C(cap,2) per dim), and the
    * cosine is computed in the surviving subspace.
    *
    * The cap is CORPUS-RELATIVE: max(QB4DfCap, n_docs/QB4DfDenom),
    * i.e. "drop dims shared by more than 0.4% of the corpus". Round
    * 12 shipped a fixed absolute 200 and its own audit proved that
    * cannot be scale-safe (DIAG_B4.json): near-dup FAMILIES share
    * dims with df ≈ family size, and family size grows with the
    * corpus — cap 200 had recall 1.000 at sf1 (50k docs) but 0.52 at
    * sf10 (500k docs), losing pairs up to cos 1.0. A relative cap
    * keeps the invariant "only corpus-level stopword dims are cut"
    * at every scale: dims binding a fixed-fraction family stay in.
    * The denominator 250 (= cap 200 at sf1, the measured recall-1.0
    * point; 2000 at sf10, recall re-measured in round 13 and committed
    * as DIAG_B4.json / DIAG_B4_ORACLE.json) is
    * integer division so Spark and DuckDB agree exactly. Caps at
    * sf0.01/sf0.1/sf1 all resolve to the floor 200, so round-12
    * certified hashes are unchanged by construction. The oracle SQL
    * interpolates the same formula — change them together and
    * re-certify qB4 at sf0.01/sf0.1/sf1. */
  private[graft] val QB4DfCap = 200
  private[graft] val QB4DfDenom = 250L

  /** Round-12 sf10-oracle discipline for the embedding queries whose
    * TRUTH side is quadratic in the corpus (10 fixed labels / 16
    * fixed IVF cells ⇒ bucket sizes grow linearly, pair volume
    * quadratically: ~4e9 label pairs, ~1e10 probe pairs at sf10 —
    * infeasible for the DuckDB gate and needlessly heavy in Spark).
    * Same shape as q132's CalibSampleDocs: the QUERY side (vectors
    * seeking neighbors / pair endpoints) is bounded to the N vectors
    * with the smallest (md5(vec_id), vec_id) — deterministic,
    * partition-invariant, engine-reproducible — while the INDEX /
    * candidate side stays the full corpus where the contract needs
    * it (q45/q55). Caps exceed the corpus at sf0.01/sf0.1 (2,000
    * vectors), so certified small-SF results are byte-identical;
    * they bind at sf1+. The unbounded operators remain available
    * (Similarity.ivfNNAll default, Dedup.embeddingDupPairs). */
  private[graft] val NnQueryCap = 2048
  private[graft] val DupSampleCap = 4096

  /** The candidate-edge build (shingle → minhash → LSH band join)
    * shared VERBATIM by q74 and qA1 — at 100 TB this edge list is
    * computed once and consumed by every downstream dedup job
    * (clustering, canonical selection, audit), so recomputing it per
    * query mis-models the pipeline and made the trio the bench's
    * noisiest rows. Staged once as a parquet [[graft.io.Staging.Fixture]].
    * qC1 (round 8) rides the same build: band keys are per-doc, so its
    * gated-subset edge list is exactly these pairs semi-joined to the
    * subset ids. */
  private val lshPairs =
    Staging.fixture("lsh_pairs", "parquet") { (s, dir, out) =>
      val d = table(s, dir, "documents")
        .withColumn("shingles",
          TextStats.shingles(TextStats.tokens(col("text")), 3))
        .select("doc_id", "shingles")
      val pairs = Dedup.lshCandidatePairs(
        Dedup.minhashBandKeys(d, "doc_id", "shingles", 8, 2), "doc_id")
      pairs.write.mode("overwrite").parquet(out)
      pairs
    }

  /** The full-corpus cluster LABELS (doc_id → cluster_id from the
    * staged pairs' transitive closure) consumed by the dedup
    * pipeline's downstream jobs. A 100 TB dedup pass runs connected
    * components ONCE and every consumer — canonical selection (qA1),
    * the split-leakage audit (qF3) — reads the label table;
    * recomputing the iterative closure per consumer mis-models the
    * pipeline. q74 does NOT ride this: q74 IS the components
    * operator, so its bench row keeps timing the closure itself
    * (staging away a query's own headline computation would make the
    * row meaningless). Stages NEST: the label build stages the pair
    * build first (fixtures nest like Staging.once). */
  private val clusterLabels =
    Staging.fixture("dedup_clusters", "parquet") { (s, dir, out) =>
      val labels = Components.connectedComponents(
        lshPairs.frame(s, dir),
        table(s, dir, "documents").select("doc_id"), "doc_id")
      labels.write.mode("overwrite").parquet(out)
      labels
    }

  /** Bench pre-pass entries: materialize the shared pair build before
    * the per-query timer (same contract as IoQueries/EventQueries
    * staging). */
  override def staging: Map[String, (SparkSession, String) => Unit] = Map(
    "q74_dedup_clusters" -> lshPairs.stage,
    "qA1_canonical_docs" -> clusterLabels.stage,
    "qF3_split_leakage" -> clusterLabels.stage,
    "qC1_curation_pipeline" -> lshPairs.stage
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Blocked fuzzy matching with the native Jaro–Winkler expression
    // (graft.functions.JaroWinkler) via sorted-neighborhood within
    // p_brand blocks: sort each brand by (name, pk), compare every
    // row to its 4 predecessors (lag 1..4) — the standard ER answer
    // to blocks whose count does NOT grow with n (TPC-H has a
    // constant 25 brands, so within-block all-pairs is quadratic in
    // the table; see q93 for the same shape on a prefix key). Pair
    // count is exactly ≤ 4n — LINEAR in table size at any scale —
    // and the sort is Spark's ordinary range-partitioned window, so
    // no single task ever holds a brand's full block. DuckDB's
    // jaro_winkler_similarity is the exact reference: identical
    // double op order on both engines, so sums of round(sim·1e6)
    // micro-units are exact longs and the per-brand rollup hashes
    // bit-for-bit. The expression runs inside whole-stage codegen —
    // no UDF, no dispatch per row.
    // Hybrid retrieval with reciprocal-rank fusion — the RAG-stack
    // staple: a lexical ranking (term frequency of the query term)
    // and a vector ranking (dot product against a broadcast probe
    // embedding), each cut to its top-100 HEAD, fused by
    // RRF = Σ 1/(60+rank) over the lists a doc was retrieved in
    // (absent list contributes 0 — retrieval-system semantics: you
    // can only fuse what each ranker returned). Fusion works on
    // RANKS, so the two score scales never need calibration; the
    // 1/(60+r) terms quantize to integer nano-units, making the
    // fused score and its top-10 cut exact integer arithmetic.
    // Shape: docs⋈embeddings is a key equi-join; the probe rides as
    // a 1-row broadcast; each orderBy().limit(100) head plans as
    // TakeOrderedAndProject (per-partition top-K, bounded merge —
    // never a single-partition sort of the corpus); the rank/fusion
    // windows then run over ≤100/≤200-row collapsed frames, the
    // repo's documented bounded-window precedent.
    "q113_hybrid_rrf" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val emb = table(s, dir, "embeddings")
      val probe = emb.filter(col("vec_id") === 0)
        .select(Similarity.asDouble(col("embedding")).as("probe"))
      val cand = table(s, dir, "documents")
        .join(emb, col("doc_id") === col("vec_id"))
        .crossJoin(broadcast(probe))
        .select(col("doc_id"),
          expr("CAST(size(filter(split(text, ' '), t -> t = 'spark')) AS BIGINT)")
            .as("tf"),
          Similarity.dot(Similarity.asDouble(col("embedding")), col("probe"))
            .as("dot"))
        .filter(col("doc_id") =!= 0)
      // tf > 0: a real lexical retriever returns only docs MATCHING
      // the term — without the filter, rank slots 21..100 would go to
      // non-matching docs by lowest id, handing them RRF mass (both
      // engines agreed on that wrong fusion, so only review caught it)
      val h1 = cand.filter(col("tf") > 0)
        .orderBy(col("tf").desc, col("doc_id").asc).limit(100)
        .withColumn("r1", row_number()
          .over(Window.orderBy(col("tf").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col("tf"), col("r1"))
      val h2 = cand.orderBy(col("dot").desc, col("doc_id").asc).limit(100)
        .withColumn("r2", row_number()
          .over(Window.orderBy(col("dot").desc, col("doc_id").asc)).cast("long"))
        .select(col("doc_id"), col("dot"), col("r2"))
      val wr = Window.orderBy(col("rrf_fp").desc, col("doc_id").asc)
      h1.join(h2, Seq("doc_id"), "full_outer")
        .withColumn("rrf_fp", expr(
          """CAST(coalesce(1000000000 div (60 + r1), 0)
             + coalesce(1000000000 div (60 + r2), 0) AS BIGINT)"""))
        .withColumn("rnk", row_number().over(wr).cast("long"))
        .filter(col("rnk") <= 10)
        .select(col("rnk"), col("doc_id"), col("tf"), col("r1"), col("r2"),
          col("dot"), col("rrf_fp"))
    }),

    // Fellegi–Sunter record-linkage scoring — probabilistic entity
    // resolution's canonical decision model: per candidate pair, sum
    // per-field agreement/disagreement log-odds weights and threshold
    // into match/non-match. Candidates come from qE0's scale-safe
    // sorted-neighborhood pass (lag 1–2 within brand ordered by name
    // — comparisons LINEAR in table size, never within-block
    // quadratic). Weights are integer milli-units, so a pair's score
    // and every aggregate of scores is an exact BIGINT; the match
    // rate is one final division.
    "qFB_fs_linkage" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("brand")
        .orderBy(col("name").asc, col("pk").asc)
      val p = table(s, dir, "part")
        .select(col("p_partkey").as("pk"), col("p_brand").as("brand"),
          col("p_name").as("name"), col("p_type").as("typ"),
          col("p_size").cast("long").as("size"),
          round(col("p_retailprice") * 100).cast("long").as("cents"))
        .withColumn("tok", split(col("name"), " ").getItem(0))
      val lagged = (1 to 2).map { k =>
        p.select(col("brand"),
            col("typ"), lag("typ", k).over(w).as("ptyp"),
            col("size"), lag("size", k).over(w).as("psize"),
            col("cents"), lag("cents", k).over(w).as("pcents"),
            col("tok"), lag("tok", k).over(w).as("ptok"))
          .filter(col("ptyp").isNotNull)
      }.reduce(_ unionAll _)
      lagged
        .withColumn("score",
          when(col("typ") === col("ptyp"), 1800L).otherwise(-600L)
            + when(abs(col("size") - col("psize")) <= 2, 900L).otherwise(-700L)
            + when(abs(col("cents") - col("pcents")) <= 100, 1500L).otherwise(-200L)
            + when(col("tok") === col("ptok"), 1200L).otherwise(-400L))
        .groupBy("brand")
        .agg(count(lit(1)).as("n_pairs"),
          sum(when(col("score") >= 2000L, 1L).otherwise(0L)).as("n_match"),
          sum("score").as("sum_score"), max("score").as("max_score"))
        .select(col("brand"), col("n_pairs"), col("n_match"),
          col("sum_score"), col("max_score"),
          (col("n_match").cast("double") / col("n_pairs").cast("double"))
            .as("match_rate"))
    }),

    "qE0_jw_fuzzy_block" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("brand"))
        .orderBy(col("name").asc, col("pk").asc)
      val o = table(s, dir, "part")
        .select(col("p_partkey").as("pk"), col("p_brand").as("brand"),
          col("p_name").as("name"))
        .select(col("brand") +: col("name") +:
          (1 to 4).map(k => lag(col("name"), k).over(w).as(s"prev$k")): _*)
      // one pass over the windowed frame: the 4 neighbor similarities
      // are emitted as an exploded array instead of 4× unionAll
      // re-reads of the same window (null prev_k → null sim, dropped
      // by the >= filter exactly like the old isNotNull pre-filter)
      val hits = o.select(col("brand"),
          explode(array((1 to 4).map(k =>
            graft.functions.JaroWinkler(col("name"), col(s"prev$k"))): _*))
            .as("sim"))
        .filter(col("sim") >= 0.95)
      hits
        .groupBy("brand")
        // n_matches, not n_pairs: this counts sim ≥ 0.95 HITS, while
        // the sibling linkage queries (qFB, q93) use n_pairs for ALL
        // compared candidates — the old name read as a comparison
        // count ~4× larger than what it measured
        .agg(count(lit(1)).as("n_matches"),
          sum(when(col("sim") === 1.0, 1L).otherwise(0L)).as("n_exact"),
          sum(round(col("sim") * 1e6).cast("long")).as("sim_micro"))
    }),

    // Exact dedup via hash-groupBy on a canonical key (lineitem has
    // real duplicate (partkey, suppkey, quantity) triples).
    "q40_dedup_exact" -> ((s, dir) => {
      // Spread.scan (r15 opt): the per-row md5(concat) + partial agg
      // ran fused into the single-split scan — 1.3 s in ONE task at
      // sf0.1; identity at real scale (guide §2.5)
      val li = graft.ops.Spread.scan(
        table(s, dir, "lineitem").select(
          "l_partkey", "l_suppkey", "l_quantity", "l_orderkey", "l_linenumber"),
        Seq(col("l_orderkey")))
      Dedup.exactDupGroups(li,
        md5(concat_ws("|", col("l_partkey"), col("l_suppkey"), col("l_quantity"))),
        col("l_orderkey") * 8 + col("l_linenumber"))
        .filter(col("n_dups") > 1)
    }),

    // Cross-corpus membership via a Bloom filter: build the sketch
    // over corpus A in one constant-state pass, broadcast the bits,
    // probe corpus B with a narrow map — the no-join prefilter for
    // "is this new document already in the 100 TB reference corpus".
    // The exact ground truth (a broadcast semi-join here; at scale
    // the expensive join the bloom exists to avoid) rides along so
    // the output pins both the zero-false-negative contract and the
    // exact false-positive count the md5 construction determines.
    "q84_bloom_membership" -> ((s, dir) => {
      val m = 1 << 20 // 128 KiB of bits; ~3.9% fp at sf0.1's n≈150k
      val li = table(s, dir, "lineitem")
      def key = concat_ws("|",
        col("l_partkey"), col("l_suppkey"), col("l_quantity")).as("key")
      val corpusA = li.filter(pmod(col("l_orderkey"), lit(4)) === 0).select(key)
      val corpusB = li.filter(pmod(col("l_orderkey"), lit(4)) =!= 0).select(key)
      // materialize the 128 KiB sketch ONCE and probe through a
      // binary literal: codegen references the array a single time.
      // Shipping it as a joined column instead costs a 128 KiB
      // UnsafeRow getBinary COPY per probe row (~57 GB of memcpy at
      // sf0.1's 450k probes — measured 10.8 s vs 1.3 s). This is also
      // the operational shape: build once, persist, probe many.
      // r16 (guide §2.4): the sketch used to aggregate the raw
      // corpus-A instance stream while the ground-truth side ran its
      // own distinct — TWO full lineitem passes over the same quarter.
      // Bloom bits are set-idempotent (update ORs 4 bits per value),
      // so building from the distinct key frame yields byte-identical
      // bits; the distinct is pinned once and feeds both the sketch
      // and the exact side.
      val aDistinct = CheckpointStrategy.EagerLocal.session("q84").pin(
        corpusA.distinct())
      val bits = aDistinct.agg(BloomFilter.build(col("key"), m).as("bits"))
        .collect()(0).getAs[Array[Byte]]("bits")
      val aKeys = aDistinct.withColumn("exact_hit", lit(true))
      corpusB
        .withColumn("bloom_hit", BloomFilter.mightContain(lit(bits), col("key"), m))
        .join(broadcast(aKeys), Seq("key"), "left")
        .withColumn("exact_hit", coalesce(col("exact_hit"), lit(false)))
        .groupBy("bloom_hit", "exact_hit")
        .agg(count(lit(1)).as("n_rows"), countDistinct(col("key")).as("n_keys"))
    }),

    // MinHash signatures over word-3-gram shingles (long form).
    "q41_minhash_sigs" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("shingles", TextStats.shingles(TextStats.tokens(col("text")), 3))
        .select("doc_id", "shingles")
      Dedup.minhashSignatures(d, "doc_id", "shingles", 8)
    }),

    // Full MinHash→LSH chain: fused signature→band aggregation →
    // candidate pairs (minhashBandKeys skips the long-form signature
    // shuffle; DedupSpec pins equivalence with the two-step form).
    "q42_lsh_candidates" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("shingles", TextStats.shingles(TextStats.tokens(col("text")), 3))
        .select("doc_id", "shingles")
      Dedup.lshCandidatePairs(
        Dedup.minhashBandKeys(d, "doc_id", "shingles", 8, 2), "doc_id")
    }),

    // LSH candidate pairs → connected components → dedup CLUSTERS:
    // every document labeled with the smallest doc_id transitively
    // reachable through q42's candidate edges (singletons label
    // themselves). This is the step that turns pair detection into an
    // actionable keep/delete list.
    "q74_dedup_clusters" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      Components.connectedComponents(
        lshPairs.frame(s, dir), docs.select("doc_id"), "doc_id")
    }),

    // q74 carried one step further — the actual keep/drop decision a
    // dedup pass ships: per duplicate cluster, keep the longest doc
    // (ties → lowest id) and report what survives. The representative
    // is picked by max_by over an exact decimal(38,0) score (length
    // dominates, id breaks ties); a window row_number would re-sort
    // every cluster member, while max_by is a map-side-partial agg —
    // the same one-row-per-key-per-task shape as q99's compaction.
    "qA1_canonical_docs" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      clusterLabels.frame(s, dir)
        .join(docs.select("doc_id", "n_chars"), "doc_id")
        .groupBy("cluster_id")
        .agg(count(lit(1)).as("n_docs"),
          // packed score in decimal(38,0) with a 1e18 length factor:
          // the old n_chars·1e7−doc_id int64 packing let a doc_id gap
          // over 1e7·Δchars override the length ordering (keeping the
          // SHORTER doc at billion-scale ids) — and the oracle packed
          // identically, so the gate was blind to it
          max_by(col("doc_id"),
            col("n_chars").cast("decimal(38,0)")
              * lit(1000000000000000000L) - col("doc_id")).as("keep_id"),
          max(col("n_chars")).as("max_chars"),
          sum(col("n_chars")).as("total_chars"))
    }),

    // Group-aware train/val/test split integrity — the leakage audit
    // behind "split by CLUSTER, never by document": near-duplicate
    // docs landing on opposite sides of a split leak training data
    // into eval. Splits assign by md5 hash (deterministic, no
    // shuffle): doc-level on doc_id, group-level on the q74 cluster
    // label. The audit counts multi-doc clusters whose members
    // straddle doc-split buckets (the leak the naive split causes)
    // and proves the group split has ZERO straddlers — plus the
    // 80/10/10 doc counts the group split actually lands. Reads the
    // staged cluster-label table (the closure runs once, in q74's
    // timer / the staging pass) and adds two bounded aggs.
    "qF3_split_leakage" -> ((s, dir) => {
      val lab = clusterLabels.frame(s, dir)
        .withColumn("doc_split",
          Dedup.md5Long(col("doc_id").cast("string")) % 10)
        .withColumn("grp_split",
          Dedup.md5Long(col("cluster_id").cast("string")) % 10)
      val perCluster = lab.groupBy("cluster_id")
        .agg(count(lit(1)).as("sz"),
          countDistinct(col("doc_split")).as("nd"),
          countDistinct(col("grp_split")).as("ng"))
      val clusterStats = perCluster.agg(
        count(lit(1)).as("n_clusters"),
        sum(when(col("sz") >= 2, 1L).otherwise(0L)).as("n_multi"),
        sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_leaky_doc_split"),
        sum(when(col("ng") >= 2, 1L).otherwise(0L)).as("n_leaky_group_split"))
      val splitCounts = lab.agg(
        sum(when(col("grp_split") <= 7, 1L).otherwise(0L)).as("n_train"),
        sum(when(col("grp_split") === 8, 1L).otherwise(0L)).as("n_val"),
        sum(when(col("grp_split") === 9, 1L).otherwise(0L)).as("n_test"))
      clusterStats.crossJoin(broadcast(splitCounts))
    }),

    // Mergeable-sketch algebra for MinHash (the q95-HLL-rollup story
    // for similarity): a grouping's signature is the elementwise min
    // of its shingle hashes, so coarse signatures ROLL UP from fine
    // ones — source-level sigs from (source, lang)-level sigs with no
    // text re-read, the property that lets a 100 TB corpus keep
    // per-shard sketches and merge them per tenant/day/source on
    // demand. Output: per source pair, the signature-agreement count
    // (the corpus-level Jaccard estimate between sources) plus
    // rollup_ok — both sources' rolled-up signatures must equal the
    // directly-computed ones, hash-checked as constant true.
    "qA6_minhash_rollup" -> ((s, dir) => {
      // Spread.scan (r15 opt): the single-split scan ran the shingle
      // pass serially. Both signature builds read `d`; a pin measured
      // no faster (noop sink, sf0.1, local[4]).
      val d = graft.ops.Spread.scan(
          table(s, dir, "documents").select("doc_id", "source", "lang", "text"),
          Seq(col("doc_id")))
        .withColumn("shingles", TextStats.shingles(TextStats.tokens(col("text")), 3))
        .select("source", "lang", "shingles")
      val direct = Dedup.minhashSignaturesBy(d, Seq("source"), "shingles", 8)
      val fine = Dedup.minhashSignaturesBy(d, Seq("source", "lang"), "shingles", 8)
      val rolled = fine.groupBy("source", "k").agg(min("minhash").as("rolled"))
      val ok = direct.join(rolled, Seq("source", "k"))
        .groupBy("source")
        .agg(min((col("minhash") === col("rolled")).cast("int")).as("oki"))
      val a = direct.select(col("source").as("s1"), col("k"), col("minhash").as("h1"))
      val b = direct.select(col("source").as("s2"), col("k"), col("minhash").as("h2"))
      a.join(b, "k").filter(col("s1") < col("s2"))
        .groupBy("s1", "s2")
        .agg(sum(when(col("h1") === col("h2"), 1L).otherwise(0L)).as("n_agree"))
        .join(ok.select(col("source").as("s1"), col("oki").as("ok1")), "s1")
        .join(ok.select(col("source").as("s2"), col("oki").as("ok2")), "s2")
        .select(col("s1"), col("s2"), col("n_agree"),
          (col("ok1") === 1 && col("ok2") === 1).as("rollup_ok"))
    }),

    // 32-bit SimHash fingerprints.
    "q43_simhash" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("toks", TextStats.tokens(col("text")))
        .select("doc_id", "toks")
      Dedup.simhash32(d, "doc_id", "toks")
    }),

    // SimHash near-dup pairs: hamming radius over the 48-bit
    // fingerprints, bucketed by source. The id1 side is the
    // NearPairProbeCap md5 probe sample (constant's comment) — the
    // candidate side stays the full corpus, so the in-bucket radius
    // scan is exercised end-to-end while output stays linear.
    "q49_simhash_near" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("toks", TextStats.tokens(col("text")))
        .select("doc_id", "source", "toks")
      val fp = Dedup.simhash(d, "doc_id", "toks", 48)
        .join(table(s, dir, "documents").select("doc_id", "source"), "doc_id")
      Dedup.simhashNearPairs(fp, "doc_id", "simhash", "source", 9,
        probes = Some(docSample(s, dir, NearPairProbeCap)))
    }),

    // Banded SimHash near-pairs — the pigeonhole scale path: same
    // exact semantics as an all-pairs radius search (the oracle IS
    // all-pairs), but the join key is a 15-bit band, never a full
    // in-bucket product. 60-bit fingerprints, radius 3. Both
    // endpoints are the BandedSampleCap md5 sample (constant's
    // comment): the pinned contract is banded == brute force, and
    // bounding the corpus is what keeps the brute-force twin
    // independent AND feasible at every SF.
    "q54_simhash_banded" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .join(broadcast(docSample(s, dir, BandedSampleCap)), Seq("doc_id"))
        .withColumn("toks", TextStats.tokens(col("text")))
        .select("doc_id", "toks")
      val fp = Dedup.simhash(d, "doc_id", "toks", 60)
      Dedup.simhashNearPairsBanded(fp, "doc_id", "simhash", 60, 3)
    }),

    // Bucketed pairwise n-gram (token-set) Jaccard near-dup pairs.
    // r16 second negative result (closing the q44 file after r15's
    // base-fanout revert): Spread.scan on the raw (doc_id, source,
    // text) scan ahead of tokenize+md5 measured 1.66 s vs 1.54 s
    // warm-min at sf0.1/32 — the serial stages it targets are only
    // 200-400 ms each (per-stage table), below the ~1 s bar where a
    // 32-way spread pays for its exchange + task overhead (the r15
    // calibration rule). Ships unchanged.
    "q44_jaccard_pairs" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("tokset", array_sort(array_distinct(TextStats.tokens(col("text")))))
        .select("doc_id", "source", "tokset")
      Dedup.jaccardPairs(d, "doc_id", "tokset", "source", 0.8)
    }),

    // Embedding-cosine near-duplicate pairs within a bucket (the
    // embedding twin of q44/q49): bucket-bounded self-join, cosine ≥
    // threshold, zero-norm vectors excluded. `label` is the bucket
    // here; at scale the bucket is lshBucket/IVF cells — same
    // operator, different bucket column.
    "q58_embedding_dup" -> ((s, dir) => {
      // both endpoints bounded to the DupSampleCap md5 sample (see
      // the constant's comment): a near-dup RATE audit on a bounded
      // subcorpus — exact all-pairs within the sample
      val raw = table(s, dir, "embeddings")
      val samp = raw
        .select(col("vec_id"), md5(col("vec_id").cast("string")).as("mk"))
        .orderBy(col("mk"), col("vec_id")).limit(DupSampleCap)
        .select("vec_id")
      Dedup.embeddingDupPairs(raw.join(broadcast(samp), Seq("vec_id")),
        "vec_id", "embedding", "label", 0.35)
    }),

    // Embedding nearest neighbor within label (cosine argmax). The
    // QUERY side is the NnQueryCap md5 sample (constant's comment);
    // the candidate side is every vector in the label.
    "q45_embedding_nn" -> ((s, dir) => {
      // norms are computed once per vector BEFORE the pair join
      // (bit-identical per-vector values; 100× fewer folds than
      // per-pair norm computation)
      val raw = table(s, dir, "embeddings")
      val qs = raw
        .select(col("vec_id"), md5(col("vec_id").cast("string")).as("mk"))
        .orderBy(col("mk"), col("vec_id")).limit(NnQueryCap)
        .select("vec_id")
      val e = raw
        .select(col("vec_id"), col("label"), Similarity.asDouble(col("embedding")).as("v"))
        .withColumn("nrm", Similarity.norm2(col("v")))
        // zero-norm guard (the house rule every sibling cosine query
        // applies): a zero vector's NaN cosine would sort first and
        // become EVERY vector's reported nearest neighbor — on both
        // engines, so the oracle gate could never catch it
        .filter(col("nrm") > 0)
      val a = e.join(broadcast(qs), Seq("vec_id"))
        .select(col("label"), col("vec_id").as("id_a"), col("v").as("va"), col("nrm").as("na"))
      val b = e.select(col("label"), col("vec_id").as("id_b"), col("v").as("vb"), col("nrm").as("nb"))
      val pairs = a.join(b, Seq("label")).filter(col("id_a") =!= col("id_b"))
        .withColumn("cos", Similarity.dot(col("va"), col("vb")) / (col("na") * col("nb")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("id_a").orderBy(col("cos").desc, col("id_b").asc)
      pairs.withColumn("rn", row_number().over(w)).filter(col("rn") === 1)
        .select(col("id_a").as("vec_id"), col("id_b").as("nn_id"), col("cos"))
    }),

    // NN through IVF cells — q45's scale shape: index side = full
    // corpus (assignment is linear), query side = the NnQueryCap md5
    // sample (fixed 16 cells make the probed-members volume quadratic
    // if every vector queries — see the constant's comment). The
    // unbounded form stays available as Similarity.ivfNNAll's default.
    "q55_ivf_nn_all" -> ((s, dir) => {
      val raw = table(s, dir, "embeddings")
      val qs = raw
        .select(col("vec_id").as("id"), md5(col("vec_id").cast("string")).as("mk"))
        .orderBy(col("mk"), col("id")).limit(NnQueryCap)
        .select("id")
      Similarity.ivfNNAll(raw, "vec_id", "embedding",
        kCentroids = 16, nProbe = 4, queryIds = Some(qs))
    }),

    // Brute-force cosine top-20 against the vec_id=0 query vector.
    "q46_cosine_topk" -> ((s, dir) =>
      Similarity.bruteForceTopKById(table(s, dir, "embeddings"),
        "vec_id", "embedding", queryId = 0, k = 20)),

    // IVF-style ANN: deterministic coarse cells, probe-and-search.
    "q48_ivf_ann" -> ((s, dir) => {
      Similarity.ivfTopK(table(s, dir, "embeddings"), "vec_id", "embedding",
        queryId = 0, kCentroids = 16, nProbe = 4, topK = 10)
    }),

    // Int8 scalar quantization + integer-dot re-rank (the 4× memory
    // compression path; see Similarity.int8TopK). Per-vector symmetric
    // scale, round-to-nearest codes, exact integer dots — the oracle re-derives
    // every code and the full per-query top-5, so a scale drift, a
    // rounding difference, or a ranking tie-break bug breaks the hash.
    "qCA_int8_ann" -> ((s, dir) =>
      Similarity.int8TopK(table(s, dir, "embeddings"), "vec_id", "embedding",
        nQueries = 8, k = 5)),

    // Hyperplane-LSH bucket histogram (the ANN scale path).
    "q47_lsh_ann_buckets" -> ((s, dir) => {
      table(s, dir, "embeddings")
        .select(col("vec_id"), Similarity.lshBucket(col("embedding"), 8).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"), min("vec_id").as("min_vec"))
    }),

    // Multi-probe LSH over q47's single hyperplane table: own bucket
    // + all Hamming-1 flips, exact-cosine re-rank, top-3 per query
    // (see Similarity.multiProbeTopK). The oracle re-derives the
    // plane signs, the XOR probe set, and the full re-rank, so a
    // probe-generation or tie-break bug breaks the hash.
    "qCE_multiprobe_lsh" -> ((s, dir) =>
      Similarity.multiProbeTopK(table(s, dir, "embeddings"),
        "vec_id", "embedding", nQueries = 8, numPlanes = 8, k = 3)),

    // Sorted-neighborhood dedup (Hernández–Stolfo '95) — the classic
    // entity-resolution method the hash family here doesn't cover:
    // sort records by a blocking key, then compare each record only
    // to its w predecessors in sort order (window lag), so the
    // comparison count is linear in the corpus instead of quadratic.
    // Scale shape: one shuffle on the block prefix, an in-partition
    // sort, and lag() comparisons — block-parallel (a GLOBAL sort
    // order would serialize through one task; the 2-char prefix
    // blocks are the standard fix). Candidate pairs = neighbors
    // within edit distance 2.
    "q93_sorted_neighborhood" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(substring(col("p_name"), 1, 2))
        .orderBy(col("p_name").asc, col("p_partkey").asc)
      val o = table(s, dir, "part").select(
        col("p_partkey"), col("p_name"),
        lag(col("p_name"), 1).over(w).as("prev1"),
        lag(col("p_partkey"), 1).over(w).as("prev1_key"),
        lag(col("p_name"), 2).over(w).as("prev2"),
        lag(col("p_partkey"), 2).over(w).as("prev2_key"))
      val near1 = o
        .filter(col("prev1").isNotNull &&
          levenshtein(col("p_name"), col("prev1")) <= 2)
        .select(col("prev1_key").as("key_a"), col("p_partkey").as("key_b"),
          levenshtein(col("p_name"), col("prev1")).as("dist"),
          lit(1).as("w_off"))
      val near2 = o
        .filter(col("prev2").isNotNull &&
          levenshtein(col("p_name"), col("prev2")) <= 2)
        .select(col("prev2_key").as("key_a"), col("p_partkey").as("key_b"),
          levenshtein(col("p_name"), col("prev2")).as("dist"),
          lit(2).as("w_off"))
      near1.union(near2)
    }),

    // Johnson–Lindenstrauss random projection 64 → 16 dims (Achlioptas
    // '01: any zero-mean iid family works, here the md5-derived
    // integer weights shared with q47's hyperplanes — already proven
    // bit-mirrorable). The 100 TB role: shrink embeddings 4× BEFORE
    // the ANN index so every downstream distance costs a quarter;
    // pure narrow map (16 codegen'd ArrayDot folds per row), no
    // shuffle at all. Outputs the projected coordinates as scalar
    // (vec_id, dim, r) rows — q47's sign-bit buckets are the 1-bit
    // extreme of the same family; this keeps the magnitudes. The long
    // form costs a 16× posexplode (still narrow, still no shuffle)
    // and keys every value on scalars, so any downstream comparator
    // or sink sees flat columns rather than a nested array.
    "q87_jl_project" -> ((s, dir) => {
      val dims = 64
      val kOut = 16
      val proj = (0 until kOut).map { j =>
        val w = (0 until dims).map(d => Similarity.planeWeight(j, d).toDouble)
        graft.functions.ArrayDot(col("embedding"), lit(w.toArray))
      }
      table(s, dir, "embeddings")
        .select(col("vec_id"), posexplode(array(proj: _*)))
        .select(col("vec_id"), col("pos").cast("int").as("dim"),
          col("col").as("r"))
    }),

    // MinHash accuracy audit: for every LSH candidate pair, the
    // signature-agreement Jaccard ESTIMATE (matching components / k —
    // Broder's unbiased estimator) next to the EXACT shingle-set
    // Jaccard. This is the calibration query a dedup pipeline runs
    // before picking its LSH thresholds. Scale shape: the estimate is
    // O(k) per CANDIDATE pair and the exact audit joins shingles only
    // for those pairs — never all-pairs; both divisions are single
    // IEEE ops from exact integers, so the doubles hash bit-exact.
    "q98_minhash_jaccard" -> ((s, dir) => {
      // Spread.scan + pin (r15 opt): three consumers (band keys,
      // signatures, the shd explode) re-ran the serial single-split
      // scan+shingle; see q132's identical rewrite
      val d = CheckpointStrategy.EagerLocal.session("q98").pin(
        graft.ops.Spread.scan(
            table(s, dir, "documents").select("doc_id", "text"),
            Seq(col("doc_id")))
          .withColumn("shingles", TextStats.shingles(TextStats.tokens(col("text")), 3))
          .select("doc_id", "shingles"))
      val cand = Dedup.lshCandidatePairs(
        Dedup.minhashBandKeys(d, "doc_id", "shingles", 8, 2), "doc_id")
      val sigs = Dedup.minhashSignatures(d, "doc_id", "shingles", 8)
      // r16: the r15 fanout pin on cand is gone — same reasoning as
      // q132's agree: the signature join's co-partitioning rewrote
      // the pinned count to conf width anyway, so the pin only
      // disabled AQE coalescing on a sample-bounded join (guide §2.2)
      val agree = cand
        .join(sigs.select(col("doc_id").as("id1"), col("k"), col("minhash").as("m1")), Seq("id1"))
        .join(sigs.select(col("doc_id").as("id2"), col("k"), col("minhash").as("m2")), Seq("id2", "k"))
        .groupBy("id1", "id2")
        .agg(sum(when(col("m1") === col("m2"), 1L).otherwise(0L)).as("n_match"))
      val shd = d.select(col("doc_id"), explode(array_distinct(col("shingles"))).as("sh"))
      val sz = shd.groupBy("doc_id").agg(count(lit(1)).as("n"))
      val inter = cand
        .join(shd.select(col("doc_id").as("id1"), col("sh")), Seq("id1"))
        .join(shd.select(col("doc_id").as("id2"), col("sh")), Seq("id2", "sh"))
        .groupBy("id1", "id2").agg(count(lit(1)).as("inter_n"))
      agree
        .join(inter, Seq("id1", "id2"), "left")
        .na.fill(0L, Seq("inter_n"))
        .join(sz.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
        .join(sz.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
        .select(col("id1"), col("id2"), col("n_match"),
          (col("n_match") / lit(8.0)).as("est"),
          col("inter_n"),
          (col("n1") + col("n2") - col("inter_n")).as("union_n"),
          (col("inter_n").cast("double") / (col("n1") + col("n2") - col("inter_n")))
            .as("jaccard"))
    }),

    // Cross-corpus decontamination at the DOCUMENT level: LSH
    // candidate pairs between a small eval corpus (source = src0) and
    // the train corpus — the "is any eval doc near-dup'd into
    // training data" audit (q67 answers the same question at the
    // n-gram level). Scale shape: band keys are computed once over
    // everything (one groupBy), the EVAL side's keys are tiny and
    // broadcast, so the train corpus is never shuffled for the join
    // and train×train pairs are never generated — at 100 TB that
    // asymmetry is the whole game.
    "q9D_cross_corpus_lsh" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("shingles", TextStats.shingles(TextStats.tokens(col("text")), 3))
      val bk = Dedup.minhashBandKeys(
          d.select(col("doc_id"), col("shingles")), "doc_id", "shingles", 8, 2)
        .join(d.select("doc_id", "source"), "doc_id")
      val ev = bk.filter(col("source") === "src0")
        .select(col("band"), col("band_key"), col("doc_id").as("eval_id"))
      val tr = bk.filter(col("source") =!= "src0")
        .select(col("band"), col("band_key"), col("doc_id").as("train_id"))
      tr.join(broadcast(ev), Seq("band", "band_key"))
        .select("eval_id", "train_id").distinct()
    }),

    // Sparse TF cosine similarity via an INVERTED-INDEX join — the
    // IR-native dual of the dense-embedding paths (q45/q46): each
    // doc is a sparse vector over 3-gram dims, candidate pairs come
    // only from shared dims (never all-pairs), and high-df dims are
    // pruned before the pair build (the stopword-dimension cut —
    // candidate work is Σ C(df,2), so the df cap bounds the quadratic
    // term; it never binds at sf0.1 and below, and at 100 TB it is
    // what keeps the index join linear). Cap value: see QB4DfCap —
    // evidence-set by the sampled exact-recall sweep in DIAG_B4.json. Exact
    // within the subspace: dot/norms are integer sums; cos is one
    // cast + sqrt + divide.
    "qB4_sparse_cosine" -> ((s, dir) => {
      // corpus-relative df cap, the same formula as the oracle. The
      // count() is one metadata-cheap job on the parquet footer, not
      // a data scan (same bounded-driver-sync class as the k-row
      // centroid syncs).
      val nDocs = table(s, dir, "documents").count()
      val dfCap = math.max(QB4DfCap.toLong, nDocs / QB4DfDenom)
      // Spread.scan (r15 opt): the single-split documents scan fused
      // the shingle explode into ONE serial task; identity at real
      // scale (guide §2.5, ops/Spread.scala)
      val tf = graft.ops.Spread.scan(
          table(s, dir, "documents").select("doc_id", "text"),
          Seq(col("doc_id")))
        .select(col("doc_id"),
          explode(TextStats.shingles(TextStats.tokens(col("text")), 3)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
      // one shuffle gathers each dim's (doc, tf) posting list; the df
      // cap is the list-size filter and the C(df,2) products explode
      // IN-TASK from the doc-sorted array (doc_id is distinct per
      // dim, so struct order == doc order) — the q11B/qDB pair-
      // explode shape replacing the postings self-join's double
      // sort-merge of the same stream. The cap bounds the in-task
      // blow-up at C(dfCap,2) per dim regardless of corpus size.
      val posting = tf.groupBy("g")
        .agg(sort_array(collect_list(struct(col("doc_id"), col("tf"))))
          .as("dt"))
        .where(size(col("dt")) <= dfCap)
      val pruned = posting
        .select(explode(col("dt")).as("e"))
        .select(col("e.doc_id").as("doc_id"), col("e.tf").as("tf"))
      val norms = pruned.groupBy("doc_id")
        .agg(sum(col("tf") * col("tf")).as("n2"))
      // Spread.fanoutSized (r15 opt, r16 demand-sized): AQE coalesced
      // the small posting aggregate to one task, so the C(df,2)
      // product explode needs a pinned-width repartition (guide §2.2)
      // — but the r15 full-width pin over-partitioned the sub-second
      // sf0.1 explode (driver r15: 32-core 4.98 s vs 8-core ~1.9 s,
      // core-ratio 0.38). Width now follows corpus volume via the
      // nDocs already on hand: full shuffle width at sf1+ (where the
      // r15 A/B measured the fan-out winning 19.1 -> 10.7 s), a
      // handful of tasks at sf0.1 (guide §2.1, ops/Spread.scala).
      val dots = graft.ops.Pairs.explodePairs(
          graft.ops.Spread.fanoutSized(posting, Seq(col("g")),
            nDocs, FanoutDocsPerTask), "dt", "x", "y")
        .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"),
          (col("x.tf") * col("y.tf")).as("p"))
        .groupBy("d1", "d2").agg(sum("p").as("dot"))
      // JOIN STRATEGY IS FORCED, not left to estimates: Catalyst's
      // Generate keeps its CHILD's size estimate, so the post-explode
      // dots aggregate is statically estimated tiny and the planner
      // picked BroadcastHashJoin(BuildLeft=dots) — at sf10 (cap 2000)
      // that "tiny" side materialized >1 GiB and aborted on
      // maxResultSize, and AQE cannot demote an already-planned
      // broadcast stage. Neither side is broadcast-safe at scale
      // (dots is the quadratic candidate set; norms is one row per
      // DOC — 10^10 rows at 100 TB), so the scale-correct strategy is
      // a shuffled hash join with norms as the per-partition build
      // side: linear, sort-free, and independent of estimates.
      dots
        .join(norms.select(col("doc_id").as("d1"), col("n2").as("na"))
          .hint("shuffle_hash"), "d1")
        .join(norms.select(col("doc_id").as("d2"), col("n2").as("nb"))
          .hint("shuffle_hash"), "d2")
        .select(col("d1"), col("d2"), col("dot"),
          // norm product in decimal(38,0): na·nb wraps int64 once the
          // squared norms reach ~3e9 each (a degenerate 55k-token
          // one-gram doc) — wrapped-negative sqrt is NaN and the pair
          // silently vanishes; decimal equals the int64 value exactly
          // on today's range, so hashes are unchanged
          (col("dot").cast("double")
            / sqrt((col("na").cast("decimal(38,0)") * col("nb"))
              .cast("double"))).as("cos"))
        .where(col("cos") >= 0.5)
    }),

    // Cross-document duplicated-span detection (the exact-substring
    // dedup signal of Lee et al. 2022, at 8-token granularity): for
    // every doc, how many of its distinct 8-gram spans also occur in
    // at least one OTHER doc. Scale shape: one distinct on
    // (doc, span), one window count partitioned by span (no join —
    // the count rides the same shuffle), one groupBy(doc). Spans
    // hash to fixed-width keys at production scale; strings here
    // keep the oracle exact.
    "qB5_dup_spans" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val sh = table(s, dir, "documents")
        .select(col("doc_id"),
          explode(TextStats.shingles(TextStats.tokens(col("text")), 8)).as("span"))
        .distinct()
      sh.withColumn("nd", count(lit(1)).over(Window.partitionBy("span")))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when(col("nd") >= 2, 1L).otherwise(0L)).as("n_dup_spans"))
        .select(col("doc_id"), col("n_spans"), col("n_dup_spans"),
          (col("n_dup_spans").cast("double") / col("n_spans")).as("dup_ratio"))
    }),

    // Greedy k-center coreset selection (Gonzalez 1985 farthest-
    // point traversal) — the diversity-sampling step of training-
    // data curation: each round adds the point farthest from the
    // selected set and shrinks every point's min-distance. The
    // iteration never leaves the plan: each center is a 1-row
    // TakeOrdered broadcast into the next round's narrow least()
    // update — no driver collect, so the same plan runs on 10^9
    // vectors (per round: one narrow map + one 1-row reduce). L2²
    // is the sequential zip-fold (q45's list_sum precedent), the
    // least() chain keeps one double per point, and (dmin DESC, id
    // ASC) is a total order so every pick is deterministic. Output:
    // 3 rounds of (center, radius² at selection) — radius traces
    // the classic 2-approximation coverage certificate.
    "qBD_kcenter_coreset" -> ((s, dir) => {
      def d2(a: Column, b: Column): Column =
        aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)),
          lit(0.0), (acc, e) => acc + e)
      val e = table(s, dir, "embeddings")
        .select(col("vec_id"), col("embedding").cast("array<double>").as("v"))
      val seed = e.orderBy("vec_id").limit(1).select(col("v").as("cv"))
      val mat = CheckpointStrategy.EagerLocal.session("qBD")
      var f = mat.step(e.crossJoin(broadcast(seed))
        .select(col("vec_id"), col("v"), d2(col("v"), col("cv")).as("dmin")))
      var picks = Seq.empty[DataFrame]
      for (round <- 1 to 3) {
        val p = mat.pin( // 1 row; cuts the growing round lineage
          f.orderBy(col("dmin").desc, col("vec_id").asc).limit(1))
        picks :+= p.select(lit(round).as("round"),
          col("vec_id").as("center_id"), col("dmin").as("radius2"))
        f = mat.step(f.crossJoin(broadcast(p.select(col("v").as("cv"))))
          .select(col("vec_id"), col("v"),
            least(col("dmin"), d2(col("v"), col("cv"))).as("dmin")))
      }
      picks.reduce(_ unionByName _)
    }),

    // The COMPOSED curation pipeline — the "one call from raw corpus
    // to packed training shards" flagship for the dedup surface:
    //   lang gate → token-count quality gate → exact-text dedup
    //   (window min, no join) → MinHash-LSH near-dedup → connected
    //   components → canonical survivors → shard-local sequence
    //   packing (q77's bins) — with every stage's row count carried
    //   in the output as the audit trail.
    // Each stage is the already-certified operator (q33/q34 gates,
    // q40 exact, q42/q74 LSH+components, q77 packing); this query
    // pins that they COMPOSE — filters push to the scan, the dedup
    // runs over the gated subset only, and the packing windows only
    // the survivors. Scale: every stage is the certified shape;
    // nothing here adds a shuffle beyond the stages' own.
    "qC1_curation_pipeline" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = table(s, dir, "documents")
      val filtered = docs
        .withColumn("n_tok",
          size(TextStats.tokens(col("text"))).cast("long"))
        .where(col("lang") === "en" && col("n_tok") >= 30)
      // exact-text dedup as a map-side-combinable groupBy over
      // (md5, min doc_id): duplicates share the text, hence n_tok, so
      // min(n_tok) is THE n_tok — same keep-set as the former
      // per-md5-partition window, but the shuffle carries 3 narrow
      // columns instead of full text + token arrays (round 8; the
      // staged-pair reuse below is what freed the downstream from
      // needing toks at all)
      val exact = filtered
        .groupBy(md5(col("text")).as("h"))
        .agg(min("doc_id").as("doc_id"), min("n_tok").as("n_tok"),
          count(lit(1)).as("n_dups"))
        .drop("h")
      // round 8: reuse the q74/qA1 staged full-corpus candidate
      // pairs instead of re-running shingle→minhash→band-join over
      // the gated subset. Band keys are per-doc functions of the
      // doc's own shingles (no corpus-dependent state in
      // minhashBandKeys/lshCandidatePairs), so LSH-over-subset ==
      // full-corpus pairs with BOTH endpoints in the subset — pinned
      // by DedupSpec's subset-restriction test. Two semi-joins
      // against the ~n_subset id list replace the whole signature
      // build; at 100 TB this is exactly how a curation pass rides
      // the pipeline-wide candidate-edge build.
      val exactIds = exact.select("doc_id")
      val pairs = lshPairs.frame(s, dir)
        .join(exactIds.withColumnRenamed("doc_id", "id1"), Seq("id1"), "left_semi")
        .join(exactIds.withColumnRenamed("doc_id", "id2"), Seq("id2"), "left_semi")
        .select("id1", "id2") // USING joins moved the keys first
      val comp = Components.connectedComponents(
        pairs, exact.select("doc_id"), "doc_id")
      val surv = comp.where(col("cluster_id") === col("doc_id"))
        .select("doc_id")
        .join(exact.select("doc_id", "n_tok"), "doc_id")
      val w = Window.partitionBy("shard").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val packed = surv.withColumn("shard", col("doc_id") % 8)
        .withColumn("cum", sum("n_tok").over(w))
        .withColumn("bin", expr("(cum - n_tok) div 512"))
      // n_filtered = Σ per-hash dup counts over the exact-dedup frame
      // — the gate count rides the dedup agg instead of
      // re-tokenizing every document a second time (round 8)
      val stats = docs.agg(count(lit(1)).as("n_input"))
        .crossJoin(exact.agg(sum("n_dups").as("n_filtered")))
        .crossJoin(exact.agg(count(lit(1)).as("n_exact")))
        .crossJoin(surv.agg(count(lit(1)).as("n_near")))
      packed.groupBy("shard", "bin")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("bin_tokens"))
        .crossJoin(broadcast(stats))
    }),

    // Per-label embedding centroids (class prototypes — the vector
    // averaging every curation/labeling pipeline needs) computed so
    // the DISTRIBUTED mean is deterministic: float sums are order-
    // sensitive and cannot hash-check, so each component is
    // quantized to 1/65536 fixed-point (floor — no round-half
    // ambiguity), summed as exact integers (associative ⇒ partition-
    // layout-invariant, map-side combinable), and the mean is two
    // pinned divisions at the end. Quantization error ≤ 2^-16 per
    // component — far below any embedding's noise floor, and the
    // price of a result that is bit-identical on 1 executor or 1000.
    "qC4_label_centroids" -> ((s, dir) =>
      table(s, dir, "embeddings")
        .select(col("label"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 65536) AS BIGINT))"))
            .as(Seq("dim", "v")))
        .groupBy("label", "dim")
        .agg(count(lit(1)).as("n"), sum("v").as("sv"))
        .select(col("label"), col("dim"), col("n"), col("sv"),
          (col("sv").cast("double") / col("n") / 65536.0).as("centroid"))),

    // Product quantization (Jégou '11): 64-dim vectors split into 4
    // disjoint 16-dim subspaces, each encoded as the nearest of 16
    // codewords — 64 floats compress to 4 bytes (64:1), and ANN
    // distance becomes 4 table lookups. Codebooks here are the
    // deterministic first-16-vectors-per-subspace (the house IVF
    // seed pattern; trained k-means drops in without changing the
    // plan). Shape is the 100 TB one: the codebook (64 rows) is
    // BROADCAST, the corpus streams through one narrow
    // explode-subspace map + a 16-way broadcast join, and the argmin
    // is a row_number over (vec, subspace) — nothing quadratic in
    // the corpus, no shuffle except the tiny final window. Distances
    // fold in double in list order (q45 precedent ⇒ bit-identical),
    // ties break to the lowest codeword id.
    "qE7_pq_codes" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val subspaces = array((0 until 4).map(lit): _*)
      def sub(v: Column, m: Column): Column =
        Similarity.asDouble(slice(v, m * 16 + 1, lit(16)))
      val cb = table(s, dir, "embeddings")
        .orderBy("vec_id").limit(16)
        .withColumn("j", row_number().over(
          Window.orderBy(col("vec_id").asc)))
        .select(explode(subspaces).as("m"), col("j"),
          col("embedding").as("cemb"))
        .select(col("m"), col("j"), sub(col("cemb"), col("m")).as("cvec"))
      val probes = table(s, dir, "embeddings")
        .select(col("vec_id"), explode(subspaces).as("m"),
          col("embedding"))
        .select(col("vec_id"), col("m"),
          sub(col("embedding"), col("m")).as("xs"))
      val diff2 = probes.join(broadcast(cb), Seq("m"))
        .withColumn("dvec", zip_with(col("xs"), col("cvec"),
          (a, b) => a - b))
        .withColumn("dist", Similarity.dot(col("dvec"), col("dvec")))
      val wmin = Window.partitionBy("vec_id", "m")
        .orderBy(col("dist").asc, col("j").asc)
      diff2.withColumn("rn", row_number().over(wmin))
        .filter(col("rn") === 1)
        .select(col("vec_id"), col("m"), col("j").as("code"))
    }),

    // Near-dup threshold calibration (round 7): precision/recall of
    // the LSH pipeline (banding + 8-perm minhash estimate) against
    // exact shingle Jaccard, swept over thresholds 0.3–0.7 — how a
    // curation pipeline picks its banding threshold before a 100 TB
    // run. The TRUTH side is the FULL inverted-index shingle join
    // (a pair sharing no shingle has inter=0 and can never be true,
    // so sharing pairs ARE the complete truth set): truly-similar
    // pairs the banding never surfaced count as FALSE NEGATIVES —
    // restricting truth to the candidate set (the round-7 form)
    // systematically overestimated recall exactly where banding
    // misses concentrate, which defeats a threshold-calibration
    // query. Threshold compares stay exact integer cross-multiplies
    // (10·match ≥ 8·t10; 10·inter ≥ t10·union).
    //
    // SAMPLED (round 11): calibration is a statistic, not a scan —
    // the r10 sf10 spot measured the full-corpus truth side at
    // ~19×/decade (Σ C(df,2) truth pairs grow superlinearly on a
    // replica fixture with shared base tokens), so the whole
    // calibration now runs on a DETERMINISTIC fixed-size document
    // sample: the CalibSampleDocs docs with the smallest
    // md5(doc_id) (the q59/qD3 partition-invariant discipline —
    // a pure row function plus TakeOrdered, so the sample, and
    // therefore every downstream number, is reproducible and the
    // DuckDB oracle re-derives it exactly). P/R over the induced
    // pair sample (both endpoints sampled) is the standard
    // estimator; the cap exceeds the corpus at sf0.01/sf0.1, so
    // the certified small-SF results are byte-identical to the
    // full-truth form, and binds at sf1+ where it turns the truth
    // decade ratio from ~19× into ~scan-bounded. n_docs_sampled
    // is the exact sampled-n audit column: min(cap, |documents|),
    // hash-checked like everything else.
    "q132_dedup_threshold_pr" -> ((s, dir) => {
      val samp = table(s, dir, "documents")
        .select(col("doc_id"),
          md5(col("doc_id").cast("string")).as("mk"))
        .orderBy(col("mk"), col("doc_id"))
        .limit(CalibSampleDocs)
        .select("doc_id")
      // Spread.scan + pin (r15 opt): the single-split documents
      // scan ran the shingling serially, and FOUR consumers
      // (band keys, signatures, the shd explode) each re-ran
      // scan+shingle from the file — ~6 serial sub-second stages per
      // run. Spreading the raw text first makes the shingle pass
      // parallel; the checkpoint makes it run ONCE. At 100 TB the
      // spread is the identity (the scan has >= width splits) and
      // materializing a multiply-read derived frame is exactly what a
      // production calibration job does. r16: the spread moved BELOW
      // the broadcast join onto the raw scan — probing a join-bearing
      // frame executed its broadcast stage (the samp TakeOrdered, a
      // full-corpus scan at scale) eagerly at construction time and
      // again in the real job (ADVICE r15; Spread.scan now refuses
      // non-scan shapes outright).
      val d = CheckpointStrategy.EagerLocal.session("q132").pin(
        graft.ops.Spread.scan(
            table(s, dir, "documents").select("doc_id", "text"),
            Seq(col("doc_id")))
          .join(broadcast(samp), Seq("doc_id"))
          .withColumn("shingles",
            TextStats.shingles(TextStats.tokens(col("text")), 3))
          .select("doc_id", "shingles"))
      val cand = Dedup.lshCandidatePairs(
        Dedup.minhashBandKeys(d, "doc_id", "shingles", 8, 2), "doc_id")
      val sigs = Dedup.minhashSignatures(d, "doc_id", "shingles", 8)
      // r16: the r15 fanout pin on cand is GONE. The pinned width was
      // overridden to conf width anyway by the signature join's
      // co-partitioning requirement (EnsureRequirements rewrites a
      // REPARTITION_BY_NUM child to the join's partition count), so
      // it never controlled task sizing — all it did was mark the
      // stage non-coalescible and so disable AQE's partition
      // coalescing across the whole sig-join (guide §2.2). The join
      // volume here is sample-bounded (×8 fixed signature rows per
      // candidate pair, no quadratic Generate), exactly the shape
      // AQE's byte-based coalescing sizes correctly at every SF.
      val agree = cand
        .join(sigs.select(col("doc_id").as("id1"), col("k"), col("minhash").as("m1")), Seq("id1"))
        .join(sigs.select(col("doc_id").as("id2"), col("k"), col("minhash").as("m2")), Seq("id2", "k"))
        .groupBy("id1", "id2")
        .agg(sum(when(col("m1") === col("m2"), 1L).otherwise(0L)).as("n_match"))
      val shd = d.select(col("doc_id"), explode(array_distinct(col("shingles"))).as("sh"))
      val sz = shd.groupBy("doc_id").agg(count(lit(1)).as("n"))
      // ALL sharing pairs, not just LSH candidates. Emitted via ONE
      // groupBy(shingle) + in-task C(df,2) explode over the sorted
      // posting list (Pairs G1) instead of the shd⋈shd self-join —
      // identical pairs/counts (sorted array ⇒ id1 < id2), but the
      // same Σ df² rows come out of one shuffle instead of two
      // sort-merged df-sized streams per key (the q11B/qDB wedge
      // rewrite at posting-list scale; measured 37.0 → 18.0 s
      // first-run / 9.0 s warm at sf1, ~2.26 s at sf0.1 — the decade
      // ratio drops 12.7× → ~4×; BASELINE v20).
      // Hub guard (ADVICE r9): collect_list is a non-spillable
      // per-group array, so a stopword-like shingle shared by most
      // docs would materialize its whole posting list in one task's
      // memory before the C(df,2) explode. Shingles with df above
      // HubShingleDf are routed through the sort-merge SELF-JOIN
      // spelling instead — same pairs (id1 < id2 either way), but the
      // join spills through shuffle machinery rather than building
      // the array, so a hub degrades to disk instead of OOMing the
      // executor. df is computed once and the exchange on `sh` is
      // reused across the df/posting/hub branches. At every certified
      // SF the hub side is empty (max df ≈ docs sharing one 3-gram ≪
      // 4096); the threshold is the documented degradation knob.
      val dfs = shd.groupBy("sh").agg(count(lit(1)).as("df"))
      val shdf = shd.join(dfs, "sh")
      // Spread.fanoutSized (r15 opt, r16 demand-sized): AQE coalesces
      // the few-MB posting-list aggregate to 1-2 tasks and the C(df,2)
      // explode ran serially — the pinned-width repartition keeps the
      // quadratic term parallel (guide §2.2), sized from the
      // CalibSampleDocs bound like `agree` above: the explode volume
      // is sample-capped at every SF, so the r15 full-width pin only
      // bought per-task overhead.
      val lowPairs = graft.ops.Pairs.explodePairs(
          graft.ops.Spread.fanoutSized(
            shdf.where(col("df") <= HubShingleDf && col("df") >= 2)
              .groupBy("sh").agg(sort_array(collect_list("doc_id")).as("ds")),
            Seq(col("sh")), CalibSampleDocs.toLong, FanoutDocsPerTask),
          "ds", "id1", "id2")
        .select("id1", "id2")
      val hubSide = shdf.where(col("df") > HubShingleDf)
        .select("sh", "doc_id")
      val hubPairs = hubSide.as("ha").join(hubSide.as("hb"),
          col("ha.sh") === col("hb.sh") &&
            col("ha.doc_id") < col("hb.doc_id"))
        .select(col("ha.doc_id").as("id1"), col("hb.doc_id").as("id2"))
      val interAll = lowPairs.unionByName(hubPairs)
        .groupBy("id1", "id2").agg(count(lit(1)).as("inter_n"))
      val scored = agree
        .join(interAll, Seq("id1", "id2"), "full_outer")
        // a non-candidate pair has no minhash row: n_match = -1 keeps
        // pred false at every threshold; a candidate pair sharing no
        // shingle has inter_n = 0 (truth false at every threshold)
        .na.fill(-1L, Seq("n_match")).na.fill(0L, Seq("inter_n"))
        .join(sz.select(col("doc_id").as("id1"), col("n").as("n1")), Seq("id1"))
        .join(sz.select(col("doc_id").as("id2"), col("n").as("n2")), Seq("id2"))
        .withColumn("union_n", col("n1") + col("n2") - col("inter_n"))
      scored
        .select(col("*"), explode(array((3 to 7).map(t => lit(t.toLong)): _*)).as("t10"))
        .withColumn("pred", col("n_match") * 10L >= col("t10") * 8L)
        .withColumn("truth", col("inter_n") * 10L >= col("t10") * col("union_n"))
        .groupBy("t10")
        .agg(sum(when(col("pred") && col("truth"), 1L).otherwise(0L)).as("tp"),
          sum(when(col("pred") && !col("truth"), 1L).otherwise(0L)).as("fp"),
          sum(when(!col("pred") && col("truth"), 1L).otherwise(0L)).as("fn"))
        .withColumn("precision",
          when(col("tp") + col("fp") > 0, expr("CAST(tp AS DOUBLE) / (tp + fp)")))
        .withColumn("recall",
          when(col("tp") + col("fn") > 0, expr("CAST(tp AS DOUBLE) / (tp + fn)")))
        // r16: count the sample from the checkpointed `d` (one row per
        // sampled doc: doc_id is unique in documents and samp ⊆
        // documents, so |d| = |samp| exactly) — the old samp.agg
        // re-ran the full-corpus md5 TakeOrdered a second time per run
        // (a whole extra corpus scan at 100 TB; guide §2.4).
        .crossJoin(broadcast(
          d.agg(count(lit(1)).as("n_docs_sampled"))))
    })
  )

  /** Shared SQL fragments (kept in lockstep with the Scala ops). */
  private val shinglesSql =
    """CASE WHEN len(string_split(text, ' ')) >= 3
       THEN [array_to_string((string_split(text, ' '))[i:i+2], ' ')
             for i in generate_series(1, len(string_split(text, ' ')) - 2)]
       ELSE [] END"""

  private def md5LongSql(e: String) =
    s"CAST(('0x' || substr(md5($e), 1, 15)) AS BIGINT)"

  private val aList = Dedup.HashA.mkString("[", ", ", "]")
  private val bList = Dedup.HashB.mkString("[", ", ", "]")

  // Materialization policy (round-13 rework of the round-10 fix):
  // materialize every SMALL multiply-referenced relation (sigs 4M
  // rows, bands 2M, cand/edges ~8M — the round-9 per-level re-run
  // bug stays fixed because the recursive walk reads only the
  // materialized edges) but NOT the ~100M-row shingle relation `sh`:
  // a MATERIALIZED CTE is PINNED in DuckDB's buffer pool and cannot
  // spill, and pinning sh is what pushed the sf10 truth sides past
  // 60 GiB. Referenced once by sigs, sh now streams through sigs'
  // spillable aggregation instead.
  private val sigsSql =
    s"""WITH sh AS (
          SELECT doc_id, s.shingle
          FROM (SELECT doc_id, $shinglesSql AS shingles FROM documents),
               unnest(shingles) AS s(shingle)),
        sigs AS MATERIALIZED (
          SELECT doc_id, g.k,
            min(($aList[g.k + 1] * (${md5LongSql("shingle")} % $P) + $bList[g.k + 1]) % $P) AS minhash
          FROM sh, generate_series(0, 7) g(k)
          GROUP BY doc_id, g.k)"""

  /** Unrolled hook+jump min-label rounds over the doc–bucket
    * memberships (`memRel(band, band_key, doc_id)`), starting from
    * `$prev0(doc_id, lbl)`. Per round: hook — every doc takes the min
    * label over its buckets (the bucket min includes the doc's own
    * label, so hook alone is monotone non-increasing); jump — every
    * doc takes its label's label (pointer doubling; every lbl value
    * is itself a member doc_id, so the self-join always matches).
    * Alternating hook+jump is the classic Shiloach–Vishkin shape:
    * k pairs converge on any component of diameter ≲ 2^k. The
    * per-round relations are MATERIALIZED — tiny (one row per banded
    * doc) but each referenced twice; plain CTEs would be INLINED by
    * DuckDB, doubling the expanded plan per round (2^rounds blowup —
    * the first cut hung in the PLANNER at sf0.01). */
  private def hookJumpRounds(memRel: String, prev0: String,
                             rounds: Int): String =
    (1 to rounds).map { i =>
      val prev = if (i == 1) prev0 else s"hj${i - 1}"
      s"""bm$i AS (
            SELECT m.band, m.band_key, min(l.lbl) AS mn
            FROM $memRel m JOIN $prev l USING (doc_id)
            GROUP BY m.band, m.band_key),
          hk$i AS MATERIALIZED (
            SELECT m.doc_id, min(b.mn) AS lbl
            FROM $memRel m JOIN bm$i b USING (band, band_key)
            GROUP BY m.doc_id),
          hj$i AS MATERIALIZED (
            SELECT a.doc_id, least(a.lbl, b.lbl) AS lbl
            FROM hk$i a JOIN hk$i b ON a.lbl = b.doc_id)"""
    }.mkString(",\n")

  /** Shared by q74/qF3/qA1: per-doc component-min label
    * (`comp(doc_id, mn)`) over the LSH band graph (docs adjacent iff
    * they share a (band, band_key) bucket — exactly the cand-pair
    * connectivity).
    *
    * Round 13 third rewrite — NO recursion at all. The round-12
    * improving-labels recursion still died at sf10 (60 GiB): the
    * replica fixture's band buckets are CLIQUES, so each recursion
    * level joined every (node, label) against every clique neighbor
    * — billions of pre-dedup rows per level — and a recursive CTE's
    * working/dedup tables cannot spill. The unrolled form never
    * builds edges at all (the C(bucket,2) cand self-join is gone
    * too): one bucket-min hook (= 1-hop neighborhood min, clique
    * components converge here) plus 4 hook+jump pairs — fixed,
    * spill-friendly aggregations/joins over the ~2M membership rows,
    * with wide margin: MEASURED convergence at sf10 is round 17 (a DuckDB fixpoint loop over the identical rounds lands on exactly the engine's 240,518 clusters; the 4- and 10-round first cuts FAILED LOUDLY, as the unroll discipline intends), and rounds cost ~0.5 s each, so 28 buys headroom for deeper future fixtures. The qE8 unroll discipline:
    * rounds past the fixpoint are idempotent, so extra rounds cannot
    * corrupt; a future SF needing more rounds surfaces as a LOUD
    * oracle hash mismatch, never silent divergence. comp contains
    * every banded doc (self-labelled when alone), and every consumer
    * reads it through coalesce(mn, doc_id), so the extra self rows
    * are value-neutral vs the old edge-restricted comp. */
  private val clustersCte =
    s"""$sigsSql,
          bands AS MATERIALIZED (
            SELECT doc_id, CAST(k // 2 AS INT) AS band,
              sum(minhash * (CASE WHEN k % 2 = 0 THEN $P ELSE 1 END)) AS band_key
            FROM sigs GROUP BY doc_id, CAST(k // 2 AS INT)),
          bm0 AS (
            SELECT band, band_key, min(doc_id) AS mn
            FROM bands GROUP BY band, band_key),
          hj0 AS MATERIALIZED (
            SELECT b.doc_id, min(m.mn) AS lbl
            FROM bands b JOIN bm0 m USING (band, band_key)
            GROUP BY b.doc_id),
          ${hookJumpRounds("bands", "hj0", 28)},
          ${convergedComp("bands", 28)}"""

  /** Convergence self-check for the unrolled closure (ADVICE r13):
    * one extra HOOK round after hj`rounds`, asserted label-stable.
    * Exactness: if any bucket still holds two labels, its bucket min
    * is strictly below the larger member's label, so hook `rounds+1`
    * lowers that label; conversely label-uniform buckets make labels
    * constant on every bucket-connected component, and the constant
    * is the component MIN (the min doc's own label never moves). So
    * "hook lowers nothing" ⟺ converged — under-unrolling on a deeper
    * future fixture now fails as a SELF-IDENTIFYING DuckDB error
    * naming the fix, not as a generic q74/qA1/qF3/qC1 hash mismatch
    * that reads as an engine bug. At the fixpoint the emitted labels
    * are hj`rounds`'s own, so certified hashes are unchanged. */
  private def convergedComp(memRel: String, rounds: Int): String = {
    val chk = rounds + 1
    s"""bm$chk AS (
            SELECT m.band, m.band_key, min(l.lbl) AS mn
            FROM $memRel m JOIN hj$rounds l USING (doc_id)
            GROUP BY m.band, m.band_key),
          hk$chk AS (
            SELECT m.doc_id, min(b.mn) AS lbl
            FROM $memRel m JOIN bm$chk b USING (band, band_key)
            GROUP BY m.doc_id),
          comp AS (
            SELECT h.doc_id,
              CASE WHEN x.lbl < h.lbl THEN CAST(error(
                'graft oracle under-converged: hook round $chk still lowered a label — raise hookJumpRounds (oracle artifact, not an engine bug)') AS BIGINT)
              ELSE h.lbl END AS mn
            FROM hj$rounds h JOIN hk$chk x USING (doc_id))"""
  }

  def oracles: Map[String, String] = Map(
    // DuckDB's builtin jaro_winkler_similarity IS the reference for
    // the native expression — same blocked pairs, same micro-unit
    // rollup; any drift in the string metric breaks the hash
    // same tf and dot-fold constructions (q45's bit-exact dot
    // precedent), same top-100 heads, same nano-unit RRF integers,
    // same absent-list-contributes-0 fusion and tie-breaks
    "q113_hybrid_rrf" ->
      """WITH probe AS (
           SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS p
           FROM embeddings WHERE vec_id = 0),
         cand AS (
           SELECT d.doc_id,
             CAST(len(list_filter(string_split(d.text, ' '),
               t -> t = 'spark')) AS BIGINT) AS tf,
             list_sum(list_transform(list_zip(
               list_transform(e.embedding, x -> CAST(x AS DOUBLE)), probe.p),
               q -> q[1] * q[2])) AS dot
           FROM documents d JOIN embeddings e ON e.vec_id = d.doc_id, probe
           WHERE d.doc_id <> 0),
         h1 AS (
           -- tf > 0: only matching docs enter the lexical ranking
           SELECT doc_id, tf, r1 FROM (
             SELECT doc_id, tf,
               CAST(row_number() OVER (ORDER BY tf DESC, doc_id ASC) AS BIGINT)
                 AS r1
             FROM cand WHERE tf > 0) WHERE r1 <= 100),
         h2 AS (
           SELECT doc_id, dot, r2 FROM (
             SELECT doc_id, dot,
               CAST(row_number() OVER (ORDER BY dot DESC, doc_id ASC) AS BIGINT)
                 AS r2
             FROM cand) WHERE r2 <= 100),
         s AS (
           SELECT coalesce(h1.doc_id, h2.doc_id) AS doc_id, tf, r1, r2, dot,
             CAST(coalesce(1000000000 // (60 + r1), 0)
               + coalesce(1000000000 // (60 + r2), 0) AS BIGINT) AS rrf_fp
           FROM h1 FULL OUTER JOIN h2 ON h1.doc_id = h2.doc_id),
         f AS (
           SELECT *, CAST(row_number() OVER (
             ORDER BY rrf_fp DESC, doc_id ASC) AS BIGINT) AS rnk
           FROM s)
         SELECT rnk, doc_id, tf, r1, r2, dot, rrf_fp
         FROM f WHERE rnk <= 10""",

    // same neighborhood pairs, same milli-unit weights and 2000
    // threshold, same one final division
    "qFB_fs_linkage" ->
      """WITH p AS (
           SELECT p_partkey AS pk, p_brand AS brand, p_name AS name,
             p_type AS typ, CAST(p_size AS BIGINT) AS size,
             CAST(round(p_retailprice * 100) AS BIGINT) AS cents,
             split_part(p_name, ' ', 1) AS tok
           FROM part),
         o AS (
           SELECT brand, typ, size, cents, tok,
             lag(typ, 1) OVER w AS ptyp1, lag(typ, 2) OVER w AS ptyp2,
             lag(size, 1) OVER w AS psize1, lag(size, 2) OVER w AS psize2,
             lag(cents, 1) OVER w AS pcents1, lag(cents, 2) OVER w AS pcents2,
             lag(tok, 1) OVER w AS ptok1, lag(tok, 2) OVER w AS ptok2
           FROM p WINDOW w AS (PARTITION BY brand ORDER BY name, pk)),
         pairs AS (
           SELECT brand, typ, ptyp1 AS ptyp, size, psize1 AS psize,
             cents, pcents1 AS pcents, tok, ptok1 AS ptok
           FROM o WHERE ptyp1 IS NOT NULL
           UNION ALL
           SELECT brand, typ, ptyp2, size, psize2, cents, pcents2, tok, ptok2
           FROM o WHERE ptyp2 IS NOT NULL),
         scored AS (
           SELECT brand,
             (CASE WHEN typ = ptyp THEN 1800 ELSE -600 END)
             + (CASE WHEN abs(size - psize) <= 2 THEN 900 ELSE -700 END)
             + (CASE WHEN abs(cents - pcents) <= 100 THEN 1500 ELSE -200 END)
             + (CASE WHEN tok = ptok THEN 1200 ELSE -400 END) AS score
           FROM pairs)
         SELECT brand, CAST(count(*) AS BIGINT) AS n_pairs,
           CAST(sum(CASE WHEN score >= 2000 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           CAST(sum(score) AS BIGINT) AS sum_score,
           CAST(max(score) AS BIGINT) AS max_score,
           CAST(sum(CASE WHEN score >= 2000 THEN 1 ELSE 0 END) AS DOUBLE)
             / CAST(count(*) AS DOUBLE) AS match_rate
         FROM scored GROUP BY brand""",

    "qE0_jw_fuzzy_block" ->
      """WITH p AS (
           SELECT p_partkey AS pk, p_brand AS brand, p_name AS name FROM part),
         o AS (
           SELECT brand, name,
             lag(name, 1) OVER w AS prev1, lag(name, 2) OVER w AS prev2,
             lag(name, 3) OVER w AS prev3, lag(name, 4) OVER w AS prev4
           FROM p WINDOW w AS (PARTITION BY brand ORDER BY name, pk)),
         pairs AS (
           SELECT brand, jaro_winkler_similarity(name, prev1) AS sim
           FROM o WHERE prev1 IS NOT NULL
           UNION ALL
           SELECT brand, jaro_winkler_similarity(name, prev2)
           FROM o WHERE prev2 IS NOT NULL
           UNION ALL
           SELECT brand, jaro_winkler_similarity(name, prev3)
           FROM o WHERE prev3 IS NOT NULL
           UNION ALL
           SELECT brand, jaro_winkler_similarity(name, prev4)
           FROM o WHERE prev4 IS NOT NULL),
         hits AS (SELECT brand, sim FROM pairs WHERE sim >= 0.95)
         SELECT brand, count(*) AS n_matches,
           CAST(sum(CASE WHEN sim = 1.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_exact,
           CAST(sum(CAST(round(sim * 1e6) AS BIGINT)) AS BIGINT) AS sim_micro
         FROM hits GROUP BY brand""",

    "q40_dedup_exact" ->
      """SELECT md5(l_partkey || '|' || l_suppkey || '|' || l_quantity) AS dup_key,
           min(l_orderkey * 8 + l_linenumber) AS keep_id,
           count(*) AS n_dups
         FROM lineitem
         GROUP BY 1 HAVING count(*) > 1""",

    // Mirrors the bloom construction bit-for-bit: the 4 positions are
    // the big-endian 32-bit words of md5(key) mod 2^20 — in SQL, the
    // 8-hex-char slices of the digest parsed as integers. A key "hits"
    // iff all 4 of its positions are in corpus A's set-bit set.
    "q84_bloom_membership" ->
      """WITH a AS (
           SELECT DISTINCT l_partkey || '|' || l_suppkey || '|' || l_quantity AS key
           FROM lineitem WHERE l_orderkey % 4 = 0),
         bits AS (
           SELECT DISTINCT
             CAST('0x' || substr(md5(key), 1 + 8 * i, 8) AS UBIGINT) % 1048576 AS p
           FROM a, generate_series(0, 3) g(i)),
         bk AS (
           SELECT l_partkey || '|' || l_suppkey || '|' || l_quantity AS key,
             count(*) AS cnt
           FROM lineitem WHERE l_orderkey % 4 <> 0 GROUP BY 1),
         probe AS (
           SELECT bk.key, bk.cnt,
             bool_and((CAST('0x' || substr(md5(bk.key), 1 + 8 * i, 8) AS UBIGINT)
                       % 1048576) IN (SELECT p FROM bits)) AS bloom_hit,
             bk.key IN (SELECT key FROM a) AS exact_hit
           FROM bk, generate_series(0, 3) g(i)
           GROUP BY bk.key, bk.cnt)
         SELECT bloom_hit, exact_hit, CAST(sum(cnt) AS BIGINT) AS n_rows,
           CAST(count(*) AS BIGINT) AS n_keys
         FROM probe GROUP BY bloom_hit, exact_hit""",

    "q41_minhash_sigs" ->
      s"""$sigsSql SELECT doc_id, CAST(k AS INTEGER) AS k, minhash FROM sigs""",

    "q42_lsh_candidates" ->
      s"""$sigsSql,
          bands AS (
            SELECT doc_id, CAST(k // 2 AS INT) AS band,
              sum(minhash * (CASE WHEN k % 2 = 0 THEN $P ELSE 1 END)) AS band_key
            FROM sigs GROUP BY doc_id, CAST(k // 2 AS INT))
          SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
          FROM bands a JOIN bands b
            ON a.band = b.band AND a.band_key = b.band_key
           AND a.doc_id < b.doc_id""",

    // transitive closure over the same candidate edges (recursive CTE
    // with set-union semantics terminates on cycles); min reachable id
    // = cluster label, LEFT JOIN keeps singletons.
    "q74_dedup_clusters" ->
      s"""$clustersCte
          SELECT d.doc_id, coalesce(comp.mn, d.doc_id) AS cluster_id
          FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id""",

    // same cluster labels, same md5 split hashing; the two audit aggs
    // mirror the Spark sides exactly
    "qF3_split_leakage" ->
      s"""$clustersCte,
          lab AS (
            SELECT d.doc_id, coalesce(comp.mn, d.doc_id) AS cluster_id,
              ${md5LongSql("CAST(d.doc_id AS VARCHAR)")} % 10 AS doc_split,
              ${md5LongSql("CAST(coalesce(comp.mn, d.doc_id) AS VARCHAR)")} % 10 AS grp_split
            FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id),
          pc AS (
            SELECT cluster_id, count(*) AS sz,
              count(DISTINCT doc_split) AS nd,
              count(DISTINCT grp_split) AS ng
            FROM lab GROUP BY cluster_id),
          cs AS (
            SELECT CAST(count(*) AS BIGINT) AS n_clusters,
              CAST(sum(CASE WHEN sz >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_multi,
              CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_doc_split,
              CAST(sum(CASE WHEN ng >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_leaky_group_split
            FROM pc),
          sc AS (
            SELECT
              CAST(sum(CASE WHEN grp_split <= 7 THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
              CAST(sum(CASE WHEN grp_split = 8 THEN 1 ELSE 0 END) AS BIGINT) AS n_val,
              CAST(sum(CASE WHEN grp_split = 9 THEN 1 ELSE 0 END) AS BIGINT) AS n_test
            FROM lab)
          SELECT * FROM cs CROSS JOIN sc""",

    // q74's clusters reduced to the keep/drop DECISION: arg-max by the
    // same integer tie-broken score as the Spark side (longest doc
    // wins, lowest id breaks ties — the score arithmetic is exact
    // BIGINT so arg_max/max_by agree bit-for-bit).
    "qA1_canonical_docs" ->
      s"""$clustersCte,
          lab AS (
            SELECT d.doc_id, coalesce(comp.mn, d.doc_id) AS cluster_id,
              d.n_chars
            FROM documents d LEFT JOIN comp ON comp.doc_id = d.doc_id)
          SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_docs,
            arg_max(doc_id,
              CAST(n_chars AS HUGEINT) * 1000000000000000000 - doc_id)
              AS keep_id,
            max(n_chars) AS max_chars,
            CAST(sum(n_chars) AS BIGINT) AS total_chars
          FROM lab GROUP BY cluster_id""",

    // direct and rolled-up signatures computed independently with the
    // same hash family; agreement counts over the k=8 components
    "qA6_minhash_rollup" -> {
      val hashExpr =
        s"($aList[g.k + 1] * (${md5LongSql("shingle")} % $P) + $bList[g.k + 1]) % $P"
      s"""WITH sh AS (
            SELECT source, lang, s.shingle
            FROM (SELECT source, lang, $shinglesSql AS shingles FROM documents),
                 unnest(shingles) AS s(shingle)),
          direct AS (
            SELECT source, g.k, min($hashExpr) AS mh
            FROM sh, generate_series(0, 7) g(k)
            GROUP BY source, g.k),
          fine AS (
            SELECT source, lang, g.k, min($hashExpr) AS mh
            FROM sh, generate_series(0, 7) g(k)
            GROUP BY source, lang, g.k),
          rolled AS (
            SELECT source, k, min(mh) AS rmh FROM fine GROUP BY source, k),
          ok AS (
            SELECT d.source,
              min(CASE WHEN d.mh = r.rmh THEN 1 ELSE 0 END) AS oki
            FROM direct d JOIN rolled r ON d.source = r.source AND d.k = r.k
            GROUP BY d.source),
          agree AS (
            SELECT a.source AS s1, b.source AS s2,
              CAST(sum(CASE WHEN a.mh = b.mh THEN 1 ELSE 0 END) AS BIGINT) AS n_agree
            FROM direct a JOIN direct b ON a.k = b.k AND a.source < b.source
            GROUP BY a.source, b.source)
          SELECT s1, s2, n_agree,
            (o1.oki = 1 AND o2.oki = 1) AS rollup_ok
          FROM agree
          JOIN ok o1 ON o1.source = s1
          JOIN ok o2 ON o2.source = s2"""
    },

    "q43_simhash" -> {
      s"""WITH toks AS (
            SELECT doc_id, t.tok, ${md5LongSql("t.tok")} AS h
            FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
                 unnest(w) AS t(tok)),
          votes AS (
            SELECT doc_id, g.j,
              sum(((h >> g.j) & 1) * 2 - 1) AS s
            FROM toks, generate_series(0, 31) g(j)
            GROUP BY doc_id, g.j)
          SELECT doc_id,
            CAST(sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS BIGINT) AS simhash
          FROM votes GROUP BY doc_id"""
    },

    "q49_simhash_near" -> {
      s"""WITH toks AS (
            SELECT doc_id, t.tok, ${md5LongSql("t.tok")} AS h
            FROM (SELECT doc_id, list_distinct(string_split(text, ' ')) AS w FROM documents),
                 unnest(w) AS t(tok)),
          votes AS (
            SELECT doc_id, g.j, sum(((h >> g.j) & 1) * 2 - 1) AS s
            FROM toks, generate_series(0, 47) g(j)
            GROUP BY doc_id, g.j),
          fp AS (
            SELECT v.doc_id,
              sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash,
              any_value(d.source) AS source
            FROM votes v JOIN documents d ON v.doc_id = d.doc_id
            GROUP BY v.doc_id),
          samp AS (
            SELECT doc_id FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            LIMIT $NearPairProbeCap)
          SELECT a.source AS bkt, a.doc_id AS id1, b.doc_id AS id2,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          FROM fp a JOIN samp ON a.doc_id = samp.doc_id
          JOIN fp b ON a.source = b.source AND a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 9"""
    },

    // exact all-pairs twin of the banded search: any hash mismatch
    // would mean the banding dropped or invented a pair
    "q54_simhash_banded" -> {
      s"""WITH samp AS (
            SELECT doc_id FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            LIMIT $BandedSampleCap),
          toks AS (
            SELECT doc_id, t.tok, ${md5LongSql("t.tok")} AS h
            FROM (SELECT d.doc_id, list_distinct(string_split(d.text, ' ')) AS w
                  FROM documents d JOIN samp USING (doc_id)),
                 unnest(w) AS t(tok)),
          votes AS (
            SELECT doc_id, g.j, sum(((h >> g.j) & 1) * 2 - 1) AS s
            FROM toks, generate_series(0, 59) g(j)
            GROUP BY doc_id, g.j),
          fp AS (
            SELECT doc_id,
              sum(CASE WHEN s > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
            FROM votes GROUP BY doc_id)
          SELECT a.doc_id AS id1, b.doc_id AS id2,
            CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
          FROM fp a JOIN fp b ON a.doc_id < b.doc_id
          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3"""
    },

    "q44_jaccard_pairs" ->
      """WITH d AS (
           SELECT doc_id, source,
             list_sort(list_distinct(string_split(text, ' '))) AS s
           FROM documents)
         SELECT a.source AS bkt, a.doc_id AS id1, b.doc_id AS id2,
           CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) AS jaccard
         FROM d a JOIN d b ON a.source = b.source AND a.doc_id < b.doc_id
         WHERE CAST(len(list_filter(a.s, x -> list_contains(b.s, x))) AS DOUBLE)
             / (len(a.s) + len(b.s) - len(list_filter(a.s, x -> list_contains(b.s, x)))) >= 0.8""",

    // same dot/norm fold shapes as q45/q55 (bit-exact parity proven
    // by those oracles); the nrm > 0 guard mirrors the NaN exclusion
    "q58_embedding_dup" ->
      s"""WITH samp AS (
           SELECT vec_id FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT $DupSampleCap),
         e AS (
           SELECT label AS bkt, vec_id AS id,
             list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings JOIN samp USING (vec_id)),
         f AS (
           SELECT * FROM (
             SELECT bkt, id, v,
               sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
             FROM e) t
           WHERE nrm > 0),
         p AS (
           SELECT a.bkt, a.id AS id1, b.id AS id2,
             list_sum(list_transform(list_zip(a.v, b.v), z -> z[1] * z[2]))
               / (a.nrm * b.nrm) AS cos
           FROM f a JOIN f b ON a.bkt = b.bkt AND a.id < b.id)
         SELECT bkt, id1, id2, cos FROM p WHERE cos >= 0.35""",

    "q45_embedding_nn" ->
      s"""WITH qs AS (
           SELECT vec_id FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT $NnQueryCap),
         e0 AS (
           SELECT vec_id, label, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         -- zero-norm guard mirrors the engine
         e AS (SELECT * FROM e0
               WHERE sqrt(list_sum(list_transform(v, x -> x * x))) > 0),
         pairs AS (
           SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             list_sum(list_transform(list_zip(a.v, b.v), p -> p[1] * p[2])) /
             (sqrt(list_sum(list_transform(a.v, x -> x * x))) *
              sqrt(list_sum(list_transform(b.v, x -> x * x)))) AS cos
           FROM e a JOIN qs ON a.vec_id = qs.vec_id
           JOIN e b ON a.label = b.label AND a.vec_id <> b.vec_id)
         SELECT id_a AS vec_id, id_b AS nn_id, cos FROM (
           SELECT id_a, id_b, cos,
             row_number() OVER (PARTITION BY id_a ORDER BY cos DESC, id_b ASC) AS rn
           FROM pairs) t
         WHERE rn = 1""",

    // same probe-set-NN contract, mirrored: argmin cell assignment,
    // per-query 4-cell probing, cosine argmax over probed members
    "q55_ivf_nn_all" ->
      s"""WITH qs AS (
           SELECT vec_id AS id FROM embeddings
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id
           LIMIT $NnQueryCap),
         e AS (
           SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         en AS (
           SELECT * FROM (
             SELECT id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
             FROM e) t
           WHERE nrm > 0),
         c AS (
           SELECT id AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cc
           FROM en ORDER BY id ASC LIMIT 16),
         d2s AS (
           SELECT en.id, en.v, en.nrm, c.cid,
             c.cc - 2.0 * list_sum(list_transform(list_zip(en.v, c.cv), p -> p[1] * p[2])) AS d2
           FROM en, c),
         asg AS (
           SELECT id AS nn_id, cid AS cell, v AS nv, nrm AS nn FROM (
             SELECT id, cid, v, nrm,
               row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn
             FROM d2s) t
           WHERE rn = 1),
         probes AS (
           SELECT id AS qid, cid AS cell, v AS qv, nrm AS qn FROM (
             SELECT id, cid, v, nrm,
               row_number() OVER (PARTITION BY id ORDER BY d2 ASC, cid ASC) AS rn
             FROM d2s JOIN qs USING (id)) t
           WHERE rn <= 4),
         cand AS (
           SELECT p.qid, a.nn_id,
             list_sum(list_transform(list_zip(p.qv, a.nv), x -> x[1] * x[2])) / (p.qn * a.nn) AS cos
           FROM probes p JOIN asg a USING (cell)
           WHERE p.qid <> a.nn_id)
         SELECT qid AS vec_id, nn_id, cos FROM (
           SELECT qid, nn_id, cos,
             row_number() OVER (PARTITION BY qid ORDER BY cos DESC, nn_id ASC) AS rn
           FROM cand) t
         WHERE rn = 1""",

    "q46_cosine_topk" ->
      """WITH e0 AS (
           SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         -- zero-norm guard mirrors the engine: NaN cosines must not rank
         e AS (SELECT * FROM e0
               WHERE sqrt(list_sum(list_transform(v, x -> x * x))) > 0),
         q AS (SELECT v AS qv FROM e WHERE vec_id = 0)
         SELECT e.vec_id,
           list_sum(list_transform(list_zip(e.v, q.qv), p -> p[1] * p[2])) /
           (sqrt(list_sum(list_transform(e.v, x -> x * x))) *
            sqrt(list_sum(list_transform(q.qv, x -> x * x)))) AS cos
         FROM e, q WHERE e.vec_id <> 0
         ORDER BY cos DESC, e.vec_id ASC LIMIT 20""",

    // same global scale, same floor codes, same integer dot, same
    // (qdot DESC, nn_id ASC) tiebreak
    "qCA_int8_ann" ->
      """WITH e AS (
           SELECT vec_id, v,
             list_aggregate(list_transform(v, x -> abs(x)), 'max') AS m
           FROM (SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
                 FROM embeddings) t0),
         c AS (
           SELECT vec_id, m,
             list_transform(v, x -> CAST(floor((x * 127.0) / m + 0.5) AS BIGINT)) AS codes
           FROM e WHERE m > 0),
         p AS (
           SELECT q.vec_id AS qid, c.vec_id AS nn_id,
             CAST(list_sum(list_transform(list_zip(q.codes, c.codes),
               z -> z[1] * z[2])) AS BIGINT) AS qdot,
             q.m AS mq, c.m AS mc
           FROM c q, c
           WHERE q.vec_id < 8 AND c.vec_id <> q.vec_id)
         SELECT qid, nn_id, qdot,
           CAST(qdot AS DOUBLE) * mq * mc / 16129.0 AS score,
           CAST(rn AS INTEGER) AS rn
         FROM (SELECT qid, nn_id, qdot, mq, mc,
                 row_number() OVER (PARTITION BY qid
                   ORDER BY CAST(qdot AS DOUBLE) * mq * mc / 16129.0 DESC,
                     nn_id ASC) AS rn
               FROM p) t
         WHERE rn <= 5""",

    "q48_ivf_ann" ->
      """WITH e0 AS (
           SELECT vec_id AS id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
           FROM embeddings),
         -- zero-norm guard BEFORE centroid init, mirroring the engine
         e AS (SELECT * FROM e0
               WHERE sqrt(list_sum(list_transform(v, x -> x * x))) > 0),
         en AS (
           SELECT id, v, sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm FROM e),
         c AS (
           -- first-k-by-id of the guarded set (the engine's
           -- orderBy+limit init, not a dense-id assumption)
           SELECT id AS cid, v AS cv, list_sum(list_transform(v, x -> x * x)) AS cc
           FROM e ORDER BY id ASC LIMIT 16),
         asg AS (
           SELECT id, v, nrm, cid AS cell FROM (
             SELECT en.id, en.v, en.nrm, c.cid,
               row_number() OVER (PARTITION BY en.id ORDER BY
                 c.cc - 2.0 * list_sum(list_transform(list_zip(en.v, c.cv), p -> p[1] * p[2])) ASC,
                 c.cid ASC) AS rn
             FROM en, c) t
           WHERE rn = 1),
         q AS (SELECT v AS qv, nrm AS qn FROM en WHERE id = 0),
         probes AS (
           SELECT cid AS cell FROM c, q
           ORDER BY c.cc - 2.0 * list_sum(list_transform(list_zip(q.qv, c.cv), p -> p[1] * p[2])) ASC,
                    cid ASC
           LIMIT 4)
         SELECT asg.id AS vec_id, asg.cell,
           list_sum(list_transform(list_zip(asg.v, q.qv), p -> p[1] * p[2])) / (asg.nrm * q.qn) AS cos
         FROM asg JOIN probes USING (cell), q
         WHERE asg.id <> 0
         ORDER BY cos DESC, asg.id ASC
         LIMIT 10""",

    "q47_lsh_ann_buckets" -> {
      val dots = (0 until 8).map { k =>
        val w = (0 until 64).map(d => Similarity.planeWeight(k, d).toDouble)
          .mkString("[", ", ", "]")
        s"CASE WHEN list_sum(list_transform(list_zip(v, $w), p -> p[1] * p[2])) > 0 THEN ${1L << k} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          b AS (SELECT vec_id, CAST($dots AS BIGINT) AS bucket FROM e)
          SELECT bucket, count(*) AS n, min(vec_id) AS min_vec
          FROM b GROUP BY bucket"""
    },

    // same plane signs, same XOR probe set (j = 8 ⇒ the unflipped own
    // bucket), same cosine shape and (cos DESC, nn ASC) tiebreak
    "qCE_multiprobe_lsh" -> {
      val dots = (0 until 8).map { k =>
        val w = (0 until 64).map(d => Similarity.planeWeight(k, d).toDouble)
          .mkString("[", ", ", "]")
        s"CASE WHEN list_sum(list_transform(list_zip(v, $w), p -> p[1] * p[2])) > 0 THEN ${1L << k} ELSE 0 END"
      }.mkString(" + ")
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          en AS (
            SELECT vec_id, v,
              sqrt(list_sum(list_transform(v, x -> x * x))) AS nrm
            FROM e),
          b AS (
            SELECT vec_id, v, nrm, CAST($dots AS BIGINT) AS bucket
            FROM en WHERE nrm > 0),
          q AS (
            SELECT vec_id AS qid, v AS qv, nrm AS qn, bucket AS qb
            FROM b WHERE vec_id < 8),
          p AS (
            SELECT qid, qv, qn,
              CASE WHEN g.j = 8 THEN qb
                   ELSE xor(qb, CAST(1 << g.j AS BIGINT)) END AS bucket
            FROM q, generate_series(0, 8) g(j)),
          c AS (
            SELECT p.qid, b.vec_id AS nn_id,
              list_sum(list_transform(list_zip(p.qv, b.v), z -> z[1] * z[2]))
                / (b.nrm * p.qn) AS cos
            FROM p JOIN b ON b.bucket = p.bucket AND b.vec_id <> p.qid)
          SELECT qid, nn_id, cos, CAST(rn AS INTEGER) AS rn
          FROM (SELECT qid, nn_id, cos,
                  row_number() OVER (PARTITION BY qid
                    ORDER BY cos DESC, nn_id ASC) AS rn
                FROM c) t
          WHERE rn <= 3"""
    },

    // identical window + lag spelling; levenshtein returns BIGINT in
    // DuckDB vs INTEGER in Spark — cast (the driver hash is
    // type-sensitive)
    "q93_sorted_neighborhood" ->
      """WITH o AS (
           SELECT p_partkey, p_name,
             lag(p_name, 1) OVER w AS prev1, lag(p_partkey, 1) OVER w AS prev1_key,
             lag(p_name, 2) OVER w AS prev2, lag(p_partkey, 2) OVER w AS prev2_key
           FROM part
           WINDOW w AS (PARTITION BY substr(p_name, 1, 2)
                        ORDER BY p_name, p_partkey))
         SELECT prev1_key AS key_a, p_partkey AS key_b,
           CAST(levenshtein(p_name, prev1) AS INTEGER) AS dist,
           CAST(1 AS INTEGER) AS w_off
         FROM o WHERE prev1 IS NOT NULL AND levenshtein(p_name, prev1) <= 2
         UNION ALL
         SELECT prev2_key, p_partkey,
           CAST(levenshtein(p_name, prev2) AS INTEGER),
           CAST(2 AS INTEGER)
         FROM o WHERE prev2 IS NOT NULL AND levenshtein(p_name, prev2) <= 2""",

    // same weight family as q47, same left-to-right list_sum fold as
    // the ArrayDot oracle precedent (q45/q46) — bit-exact doubles;
    // unnested to scalar (vec_id, dim, r) rows mirroring the engine's
    // posexplode (1-based list index → 0-based dim)
    "q87_jl_project" -> {
      val cells = (0 until 16).map { j =>
        val w = (0 until 64).map(d => Similarity.planeWeight(j, d).toDouble)
          .mkString("[", ", ", "]")
        s"list_sum(list_transform(list_zip(v, $w), p -> p[1] * p[2]))"
      }.mkString("[", ",\n            ", "]")
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          p AS (SELECT vec_id, $cells AS r FROM e)
          SELECT vec_id, CAST(d.i - 1 AS INTEGER) AS dim, r[d.i] AS r
          FROM p CROSS JOIN (SELECT unnest(range(1, 17)) AS i) d"""
    },

    // candidate pairs exactly as q42, then signature agreement + an
    // exact shingle-set Jaccard restricted to those pairs; LEFT JOIN
    // keeps zero-overlap false-positive candidates (inter_n = 0)
    "q98_minhash_jaccard" ->
      s"""$sigsSql,
          bands AS (
            SELECT doc_id, CAST(k // 2 AS INT) AS band,
              sum(minhash * (CASE WHEN k % 2 = 0 THEN $P ELSE 1 END)) AS band_key
            FROM sigs GROUP BY doc_id, CAST(k // 2 AS INT)),
          cand AS (
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id),
          agree AS (
            SELECT c.id1, c.id2,
              CAST(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS BIGINT) AS n_match
            FROM cand c
            JOIN sigs a ON a.doc_id = c.id1
            JOIN sigs b ON b.doc_id = c.id2 AND a.k = b.k
            GROUP BY c.id1, c.id2),
          shd AS (
            SELECT DISTINCT doc_id, s.shingle
            FROM (SELECT doc_id, $shinglesSql AS shingles FROM documents),
                 unnest(shingles) AS s(shingle)),
          sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY doc_id),
          inter AS (
            SELECT c.id1, c.id2, CAST(count(*) AS BIGINT) AS inter_n
            FROM cand c
            JOIN shd x ON x.doc_id = c.id1
            JOIN shd y ON y.doc_id = c.id2 AND x.shingle = y.shingle
            GROUP BY c.id1, c.id2)
          SELECT a.id1, a.id2, a.n_match,
            a.n_match / 8e0 AS est,
            COALESCE(i.inter_n, 0) AS inter_n,
            s1.n + s2.n - COALESCE(i.inter_n, 0) AS union_n,
            CAST(COALESCE(i.inter_n, 0) AS DOUBLE)
              / (s1.n + s2.n - COALESCE(i.inter_n, 0)) AS jaccard
          FROM agree a
          LEFT JOIN inter i ON i.id1 = a.id1 AND i.id2 = a.id2
          JOIN sz s1 ON s1.doc_id = a.id1
          JOIN sz s2 ON s2.doc_id = a.id2""",

    // q98's chain + a 5-threshold sweep; all compares are integer
    // cross-multiplies, P/R are pinned final divisions. Own CTE
    // chain (not the shared $sigsSql): the whole calibration runs on
    // the deterministic md5-ranked doc sample (see the Scala twin),
    // so sh/sigs are built over `samp`, not all of `documents`.
    // md5 hex is lowercase fixed-length in both engines, so the
    // ORDER BY is the same binary lexicographic order Spark uses.
    "q132_dedup_threshold_pr" ->
      s"""WITH samp AS MATERIALIZED (
            SELECT doc_id FROM documents
            ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
            LIMIT $CalibSampleDocs),
          sh AS MATERIALIZED (
            SELECT doc_id, s.shingle
            FROM (SELECT d.doc_id, $shinglesSql AS shingles
                  FROM documents d JOIN samp USING (doc_id)),
                 unnest(shingles) AS s(shingle)),
          sigs AS MATERIALIZED (
            SELECT doc_id, g.k,
              min(($aList[g.k + 1] * (${md5LongSql("shingle")} % $P) + $bList[g.k + 1]) % $P) AS minhash
            FROM sh, generate_series(0, 7) g(k)
            GROUP BY doc_id, g.k),
          bands AS (
            SELECT doc_id, CAST(k // 2 AS INT) AS band,
              sum(minhash * (CASE WHEN k % 2 = 0 THEN $P ELSE 1 END)) AS band_key
            FROM sigs GROUP BY doc_id, CAST(k // 2 AS INT)),
          cand AS (
            SELECT DISTINCT a.doc_id AS id1, b.doc_id AS id2
            FROM bands a JOIN bands b
              ON a.band = b.band AND a.band_key = b.band_key
             AND a.doc_id < b.doc_id),
          agree AS (
            SELECT c.id1, c.id2,
              CAST(sum(CASE WHEN a.minhash = b.minhash THEN 1 ELSE 0 END) AS BIGINT) AS n_match
            FROM cand c
            JOIN sigs a ON a.doc_id = c.id1
            JOIN sigs b ON b.doc_id = c.id2 AND a.k = b.k
            GROUP BY c.id1, c.id2),
          shd AS (SELECT DISTINCT doc_id, shingle FROM sh),
          sz AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n FROM shd GROUP BY doc_id),
          inter AS (
            -- ALL sharing pairs within the sample (the complete
            -- truth set over sampled docs), not just LSH
            -- candidates: banding misses must count as fn
            SELECT x.doc_id AS id1, y.doc_id AS id2,
              CAST(count(*) AS BIGINT) AS inter_n
            FROM shd x
            JOIN shd y ON x.shingle = y.shingle AND x.doc_id < y.doc_id
            GROUP BY x.doc_id, y.doc_id),
          scored AS (
            SELECT COALESCE(a.id1, i.id1) AS id1,
              COALESCE(a.id2, i.id2) AS id2,
              COALESCE(a.n_match, -1) AS n_match,
              COALESCE(i.inter_n, 0) AS inter_n,
              s1.n + s2.n - COALESCE(i.inter_n, 0) AS union_n
            FROM agree a
            FULL OUTER JOIN inter i ON i.id1 = a.id1 AND i.id2 = a.id2
            JOIN sz s1 ON s1.doc_id = COALESCE(a.id1, i.id1)
            JOIN sz s2 ON s2.doc_id = COALESCE(a.id2, i.id2)),
          sweep AS (
            SELECT s.*, CAST(t.t10 AS BIGINT) AS t10,
              s.n_match * 10 >= t.t10 * 8 AS pred,
              s.inter_n * 10 >= t.t10 * s.union_n AS truth
            FROM scored s
            CROSS JOIN (SELECT unnest(generate_series(3, 7)) AS t10) t)
          SELECT t10,
            CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS tp,
            CAST(sum(CASE WHEN pred AND NOT truth THEN 1 ELSE 0 END) AS BIGINT) AS fp,
            CAST(sum(CASE WHEN NOT pred AND truth THEN 1 ELSE 0 END) AS BIGINT) AS fn,
            CASE WHEN sum(CASE WHEN pred THEN 1 ELSE 0 END) > 0 THEN
              CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS DOUBLE)
                / sum(CASE WHEN pred THEN 1 ELSE 0 END) END AS precision,
            CASE WHEN sum(CASE WHEN truth THEN 1 ELSE 0 END) > 0 THEN
              CAST(sum(CASE WHEN pred AND truth THEN 1 ELSE 0 END) AS DOUBLE)
                / sum(CASE WHEN truth THEN 1 ELSE 0 END) END AS recall,
            nd.n_docs_sampled
          FROM sweep
          CROSS JOIN (SELECT CAST(count(*) AS BIGINT) AS n_docs_sampled
                      FROM samp) nd
          GROUP BY t10, nd.n_docs_sampled""",

    // same band construction as q42/q98, split by corpus label
    "q9D_cross_corpus_lsh" ->
      s"""$sigsSql,
          bands AS (
            SELECT doc_id, CAST(k // 2 AS INT) AS band,
              sum(minhash * (CASE WHEN k % 2 = 0 THEN $P ELSE 1 END)) AS band_key
            FROM sigs GROUP BY doc_id, CAST(k // 2 AS INT)),
          lab AS (SELECT doc_id, source FROM documents),
          ev AS (
            SELECT b.doc_id AS eval_id, band, band_key
            FROM bands b JOIN lab l ON l.doc_id = b.doc_id
            WHERE l.source = 'src0'),
          tr AS (
            SELECT b.doc_id AS train_id, band, band_key
            FROM bands b JOIN lab l ON l.doc_id = b.doc_id
            WHERE l.source <> 'src0')
          SELECT DISTINCT eval_id, train_id
          FROM ev JOIN tr USING (band, band_key)""",

    "qB4_sparse_cosine" ->
      s"""WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (
           SELECT doc_id, u.g AS g
           FROM t, unnest(CASE WHEN len(w) >= 3
             THEN [array_to_string(w[i:i+2], ' ')
                   for i in generate_series(1, len(w) - 2)]
             ELSE [] END) AS u(g)),
         tf AS (
           SELECT doc_id, g, CAST(count(*) AS BIGINT) AS tf
           FROM s GROUP BY doc_id, g),
         posting AS (
           -- the ENGINE's shape, not a postings self-join: gather
           -- each dim's posting list once (the corpus-relative cap —
           -- max(200, n_docs // 250), same integer formula as the
           -- engine — is the HAVING), then stream the C(df,2) pair
           -- products out of a double lateral unnest straight into
           -- the dots aggregation. The join spelling sorted/hashed
           -- the full pair stream as JOIN state and spilled >70 GB
           -- of temp at sf10; this form's only big state is the
           -- spillable dots GROUP BY. Also drops the 770M-row
           -- window sort the df-filter spelling paid.
           SELECT g, list(struct_pack(d := doc_id, t := tf)
                          ORDER BY doc_id) AS dt
           FROM tf GROUP BY g
           HAVING count(*) <= greatest($QB4DfCap,
             (SELECT count(*) // $QB4DfDenom FROM documents))),
         pruned AS (
           SELECT u.e.d AS doc_id, u.e.t AS tf
           FROM posting, unnest(dt) AS u(e)),
         norms AS (
           SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) AS n2
           FROM pruned GROUP BY doc_id),
         dots AS (
           SELECT u1.e1.d AS d1, u2.e2.d AS d2,
             CAST(sum(u1.e1.t * u2.e2.t) AS BIGINT) AS dot
           FROM posting, unnest(dt) AS u1(e1), unnest(dt) AS u2(e2)
           WHERE u1.e1.d < u2.e2.d
           GROUP BY d1, d2)
         SELECT d1, d2, dot,
           CAST(dot AS DOUBLE)
             / sqrt(CAST(CAST(x.n2 AS HUGEINT) * y.n2 AS DOUBLE)) AS cos
         FROM dots
         JOIN norms x ON x.doc_id = d1
         JOIN norms y ON y.doc_id = d2
         WHERE CAST(dot AS DOUBLE)
           / sqrt(CAST(CAST(x.n2 AS HUGEINT) * y.n2 AS DOUBLE)) >= 0.5""",

    "qB5_dup_spans" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sh AS (
           SELECT DISTINCT doc_id, u.span AS span
           FROM t, unnest(CASE WHEN len(w) >= 8
             THEN [array_to_string(w[i:i+7], ' ')
                   for i in generate_series(1, len(w) - 7)]
             ELSE [] END) AS u(span)),
         f AS (
           SELECT doc_id,
             count(*) OVER (PARTITION BY span) AS nd
           FROM sh)
         SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_dup_spans,
           CAST(sum(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS DOUBLE)
             / count(*) AS dup_ratio
         FROM f GROUP BY doc_id""",

    // the full curation chain with the LSH/components CTEs
    // instantiated over the GATED relation (ex), not raw documents —
    // same formulas as q74/qA1's clustersCte
    "qC1_curation_pipeline" ->
      s"""WITH filt AS (
            SELECT doc_id, text,
              CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
            FROM documents
            WHERE lang = 'en' AND len(string_split(text, ' ')) >= 30),
          ex AS (
            SELECT doc_id, text, n_tok FROM (
              SELECT doc_id, text, n_tok,
                min(doc_id) OVER (PARTITION BY md5(text)) AS keep
              FROM filt) t
            WHERE doc_id = keep),
          sh AS (
            -- NOT materialized: same spill-pressure rule as
            -- clustersCte — the corpus-sized shingle relation must
            -- stream into sigs' spillable aggregation, not pin the
            -- buffer pool
            SELECT doc_id, s.shingle
            FROM (SELECT doc_id, $shinglesSql AS shingles FROM ex),
                 unnest(shingles) AS s(shingle)),
          sigs AS MATERIALIZED (
            SELECT doc_id, g.k,
              min(($aList[g.k + 1] * (${md5LongSql("shingle")} % $P) + $bList[g.k + 1]) % $P) AS minhash
            FROM sh, generate_series(0, 7) g(k)
            GROUP BY doc_id, g.k),
          bands AS MATERIALIZED (
            SELECT doc_id, CAST(k // 2 AS INT) AS band,
              sum(minhash * (CASE WHEN k % 2 = 0 THEN $P ELSE 1 END)) AS band_key
            FROM sigs GROUP BY doc_id, CAST(k // 2 AS INT)),
          -- unrolled hook+jump components, same shape and rationale
          -- as clustersCte (see its doc comment): no recursion, no
          -- edge materialization — the gated corpus's band buckets
          -- are the same replica cliques that blew up the recursive
          -- forms at sf10
          bm0 AS (
            SELECT band, band_key, min(doc_id) AS mn
            FROM bands GROUP BY band, band_key),
          hj0 AS MATERIALIZED (
            SELECT b.doc_id, min(m.mn) AS lbl
            FROM bands b JOIN bm0 m USING (band, band_key)
            GROUP BY b.doc_id),
          ${hookJumpRounds("bands", "hj0", 28)},
          ${convergedComp("bands", 28)},
          surv AS (
            SELECT e.doc_id, e.n_tok
            FROM ex e LEFT JOIN comp c ON c.doc_id = e.doc_id
            WHERE coalesce(c.mn, e.doc_id) = e.doc_id),
          packed AS (
            SELECT doc_id, doc_id % 8 AS shard, n_tok,
              CAST(sum(n_tok) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS BIGINT) AS cum
            FROM surv),
          stats AS (
            SELECT (SELECT CAST(count(*) AS BIGINT) FROM documents) AS n_input,
              (SELECT CAST(count(*) AS BIGINT) FROM filt) AS n_filtered,
              (SELECT CAST(count(*) AS BIGINT) FROM ex) AS n_exact,
              (SELECT CAST(count(*) AS BIGINT) FROM surv) AS n_near)
          SELECT shard, (cum - n_tok) // 512 AS bin,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_tok) AS BIGINT) AS bin_tokens,
            n_input, n_filtered, n_exact, n_near
          FROM packed, stats
          GROUP BY shard, (cum - n_tok) // 512,
            n_input, n_filtered, n_exact, n_near""",

    // same fixed-point quantization; DuckDB 1.0 has no WITH
    // ORDINALITY, so the 64-dim vectors are indexed by a constant
    // series (1-based list indexing)
    "qC4_label_centroids" ->
      """WITH q AS (
           SELECT label, CAST(g.i - 1 AS INTEGER) AS dim,
             CAST(floor(CAST(embedding[g.i] AS DOUBLE) * 65536) AS BIGINT) AS v
           FROM embeddings, generate_series(1, 64) g(i))
         SELECT label, dim, count(*) AS n,
           CAST(sum(v) AS BIGINT) AS sv,
           CAST(sum(v) AS DOUBLE) / count(*) / 65536.0 AS centroid
         FROM q GROUP BY label, dim""",

    // the same 3 farthest-point rounds unrolled as chained CTEs;
    // list_sum folds the squared diffs in list order like the
    // engine's sequential zip-fold
    "qBD_kcenter_coreset" -> {
      def d2(a: String, b: String) =
        s"list_sum(list_transform(list_zip($a, $b), p -> (p[1]-p[2])*(p[1]-p[2])))"
      def round(prev: String, p: String, f: String) =
        s"""$p AS (
             SELECT vec_id AS center_id, v AS cv, dmin AS radius2
             FROM $prev ORDER BY dmin DESC, vec_id ASC LIMIT 1),
           $f AS (
             SELECT $prev.vec_id, $prev.v,
               least($prev.dmin, ${d2(s"$prev.v", s"$p.cv")}) AS dmin
             FROM $prev, $p)"""
      s"""WITH e AS (
            SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v
            FROM embeddings),
          seed AS (SELECT v AS cv FROM e ORDER BY vec_id LIMIT 1),
          f0 AS (
            SELECT vec_id, v, ${d2("v", "cv")} AS dmin
            FROM e, seed),
          ${round("f0", "p1", "f1")},
          ${round("f1", "p2", "f2")},
          ${round("f2", "p3", "f3")}
          SELECT 1 AS round, center_id, radius2 FROM p1
          UNION ALL SELECT 2, center_id, radius2 FROM p2
          UNION ALL SELECT 3, center_id, radius2 FROM p3"""
    },

    // same first-16 codebook, same in-order double diff² fold
    // (q45's list_zip precedent), same (dist, j) tie-break
    "qE7_pq_codes" ->
      """WITH ms AS (SELECT unnest([0, 1, 2, 3]) AS m),
         cb0 AS (
           SELECT embedding,
             row_number() OVER (ORDER BY vec_id) AS j
           FROM (SELECT * FROM embeddings ORDER BY vec_id LIMIT 16)),
         cb AS (
           SELECT m, j,
             list_transform(embedding[m * 16 + 1 : m * 16 + 16],
               x -> CAST(x AS DOUBLE)) AS cvec
           FROM cb0, ms),
         px AS (
           SELECT vec_id, m,
             list_transform(embedding[m * 16 + 1 : m * 16 + 16],
               x -> CAST(x AS DOUBLE)) AS xs
           FROM embeddings, ms),
         d AS (
           SELECT vec_id, px.m, j,
             list_sum(list_transform(list_zip(xs, cvec),
               p -> (p[1] - p[2]) * (p[1] - p[2]))) AS dist
           FROM px JOIN cb ON cb.m = px.m),
         r AS (
           SELECT vec_id, m, j, row_number() OVER (
               PARTITION BY vec_id, m ORDER BY dist, j) AS rn
           FROM d)
         SELECT vec_id, CAST(m AS INTEGER) AS m, CAST(j AS INTEGER) AS code
         FROM r WHERE rn = 1"""
  )
}
