package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{LnExact, SentimentScore, UnicodeNormalize}
import graft.io.Sources.table
import graft.text.{EntityRuler, Sentiment, TextStats}

/** Text-analysis operator surface over the `documents` table:
  * dictionary NER (the reference's custom operator, SURVEY.md §2.8),
  * lexicon sentiment, token statistics, language ID, quality scoring,
  * fingerprinting, rolling hash, shingling. All except NER are
  * oracle-checked. The NER matcher is hash-checked two ways: q30
  * against a recursive-CTE DuckDB mirror generated from the demo dict
  * ([[nerWalkSql]]), and q38 against a DATA-DRIVEN mirror that loads
  * the full 25,456-pattern spaCy dictionary with `read_json` and
  * resolves longest-match via a first-token equi-join
  * ([[nerFullDictOracleSql]]) — no generated CASE arms, so the oracle
  * scales to the production dictionary.
  */
object TextQueries {

  /** Committed demo pattern set over the documents vocabulary:
    * exercises multi-token LOWER patterns, longest-match priority,
    * exact-case Text patterns, and id-vs-surface emission. */
  def demoPatterns: Seq[EntityRuler.Pattern] = {
    import EntityRuler._
    Seq(
      Pattern("Op", Seq(LowerTok("hash"), LowerTok("join")), Some("Hash Join")),
      Pattern("Op", Seq(LowerTok("sort"), LowerTok("merge")), Some("Sort-Merge")),
      Pattern("Op", Seq(LowerTok("table"), LowerTok("scan")), Some("Table Scan")),
      Pattern("Op", Seq(LowerTok("sort")), Some("Sort")),
      Pattern("Op", Seq(LowerTok("merge")), Some("Merge")),
      Pattern("Op", Seq(LowerTok("filter")), Some("Filter")),
      Pattern("Sys", Seq(ExactTok("spark")), Some("Spark")),
      Pattern("Sys", Seq(ExactTok("Spark")), Some("SparkTitleCase")),
      Pattern("Kind", Seq(LowerTok("stream")), None) // no id → surface
    )
  }

  private val langProfiles: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "a"),
    "db" -> Seq("table", "row", "column"),
    "bigdata" -> Seq("spark", "stream", "batch"))

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Zipf rank-frequency slope — the corpus-law fit that flags
    // synthetic or templated text (natural corpora slope ≈ −1): OLS
    // of ln(count) on ln(rank) over the ranked vocabulary. The
    // log-log points quantize to 1/10⁶ fixed point (LnExact is
    // correctly-rounded, matching DuckDB's glibc ln on identical
    // integer inputs). Round 8: every term needs its rank (the OLS
    // runs over ALL points, so a top-k cut can't apply) — the rank is
    // DistributedRank's range-ledger row_number, a parallel range
    // sort instead of the former one-task vocabulary window; and the
    // OLS moments accumulate in decimal(38,0) (Σx·y over a 10⁷-term
    // vocab passes 2^63 — mirrors DuckDB's HUGEINT sum()) with a
    // BIGINT cast at the driver contract. slope/intercept are pinned
    // final divisions. Shape: token explode → vocab-bounded count
    // agg → distributed rank and OLS over the collapsed frame.
    "q108_zipf_slope" -> ((s, dir) => {
      val counts = table(s, dir, "documents")
        .select(explode(split(col("text"), " ")).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      graft.ops.DistributedRank.withGlobalRank(counts, 32,
          Seq(col("cnt").desc, col("term").asc))
        .select(
          floor(graft.functions.LnExact(col("r").cast("double")) * 1e6)
            .cast("long").as("x"),
          floor(graft.functions.LnExact(col("cnt").cast("double")) * 1e6)
            .cast("long").as("y"))
        .agg(count(lit(1)).as("v"), sum(dec(col("x"))).as("sxd"),
          sum(dec(col("y"))).as("syd"),
          sum(dec(col("x")) * dec(col("y"))).as("sxyd"),
          sum(dec(col("x")) * dec(col("x"))).as("sxxd"))
        // slope numerator/denominator multiply IN decimal(38,0): the
        // int64 products v·Σxy and Σx·Σy pass 2^63 at only a few
        // hundred vocabulary terms (x,y ≈ 1.5e7 fixed-point), where
        // decimal carries to ~1e9 terms (≈4e32 < 1e38); the oracle
        // mirrors with un-cast HUGEINT products. The BIGINT contract
        // casts below are output-only.
        .withColumn("sloped",
          (col("v").cast("decimal(38,0)") * col("sxyd") - col("sxd") * col("syd"))
            .cast("double")
          / (col("v").cast("decimal(38,0)") * col("sxxd") - col("sxd") * col("sxd"))
            .cast("double"))
        // TRY_CAST (paired with the oracle's TRY_CAST): the raw-sum
        // diagnostics overflow BIGINT near 5e5 vocabulary terms —
        // both engines then emit NULL for the sums while the
        // decimal-computed slope stays exact
        // intercept from the decimal sums too (the try_cast BIGINT
        // diagnostics may be NULL at overflow scale; the fit must not)
        .withColumn("interceptd",
          (col("syd").cast("double") - col("sloped") * col("sxd").cast("double"))
            / col("v") / lit(1e6))
        .select(col("v"), expr("TRY_CAST(sxd AS BIGINT)").as("s_x"),
          expr("TRY_CAST(syd AS BIGINT)").as("s_y"),
          expr("TRY_CAST(sxyd AS BIGINT)").as("s_xy"),
          expr("TRY_CAST(sxxd AS BIGINT)").as("s_xx"),
          col("sloped").as("slope"), col("interceptd").as("intercept"))
    }),

    // Skipgram co-occurrence counts (the word2vec/GloVe input): for
    // every token, its forward contexts at distance 1 and 2, counted
    // per (center, context, dist) and cut to a global top-30. Shape:
    // positions come from ONE posexplode; contexts from two leads
    // over the per-doc window (one doc_id shuffle — never a
    // positions self-join); counts are map-side combinable over the
    // vocabulary-bounded domain, so the final rank orders ≤|V|²·2
    // collapsed rows, not data. Counts exact; ties break
    // lexicographically so the cut is total-ordered.
    "q105_skipgram_cooc" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy("doc_id").orderBy(col("pos").asc)
      val toks = table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(split(col("text"), " ")).as(Seq("pos", "term")))
        .withColumn("c1", lead("term", 1).over(w))
        .withColumn("c2", lead("term", 2).over(w))
      // one pass over the windowed frame (r15 opt): the former
      // unionAll of two filtered selects re-ran the doc-position
      // window per branch; emitting both contexts as a 2-element
      // struct array + one explode computes the leads once — same
      // rows (null contexts dropped exactly like the old isNotNull
      // branch filters), the qE0 single-pass precedent
      val pairs = toks.select(col("term").as("center"),
          explode(array(
            struct(col("c1").as("context"), lit(1).as("dist")),
            struct(col("c2").as("context"), lit(2).as("dist")))).as("x"))
        .select(col("center"), col("x.context").as("context"),
          col("x.dist").as("dist"))
        .filter(col("context").isNotNull)
      val counts = pairs.groupBy("center", "context", "dist")
        .agg(count(lit(1)).as("n"))
      // top-30 cut BEFORE the rank window (round 8): orderBy+limit is
      // TakeOrderedAndProject — parallel partial heaps, no task ever
      // sorts the |V|²·2 collapsed frame; the window then ranks 30
      // rows. Same total order ⇒ identical rows and ranks.
      val ord = Seq(col("n").desc, col("center").asc,
        col("context").asc, col("dist").asc)
      counts.orderBy(ord: _*).limit(30)
        .withColumn("rnk", row_number()
          .over(Window.orderBy(ord: _*)).cast("long"))
    }),

    // Type-token corpus-health audit (Heaps-law snapshot): per
    // source, total token mass, vocabulary size, hapax legomena, and
    // the type-token / hapax ratios — the lexical-diversity gates
    // that catch template-generated or looped corpora before
    // training. Shape: tokens explode into a (source, term) count —
    // map-side combinable, vocabulary-bounded — then ONE rollup per
    // source; the doc counts join is an agg-to-agg broadcast. All
    // counts exact BIGINTs; the two ratios are final divisions.
    "qFD_type_token" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val stats = docs
        .select(col("source"), explode(split(col("text"), " ")).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(count(lit(1)).as("distinct_terms"),
          sum("cnt").as("total_tokens"),
          sum(when(col("cnt") === 1, 1L).otherwise(0L)).as("hapax"))
      val nd = docs.groupBy("source").agg(count(lit(1)).as("n_docs"))
      stats.join(nd, Seq("source"))
        .select(col("source"), col("n_docs"), col("total_tokens"),
          col("distinct_terms"), col("hapax"),
          (col("distinct_terms").cast("double")
            / col("total_tokens").cast("double")).as("ttr"),
          (col("hapax").cast("double")
            / col("distinct_terms").cast("double")).as("hapax_rate"))
    }),

    // Within-document repetition gates (the Gopher/MassiveText
    // quality rules): per doc, the fraction of bigram positions taken
    // by the single most frequent bigram, and the fraction of 5-gram
    // positions whose 5-gram repeats within the doc — the two signals
    // that catch boilerplate and degenerate loops that length/stopword
    // heuristics (q33/q34) miss. The PASS verdict compares exact
    // integers (·100 vs threshold·denominator — no float gate); the
    // reported fractions are one IEEE division over those integers,
    // so they hash bit-for-bit. Scale shape: two explode +
    // groupBy(doc, gram) aggregations — vocab-bounded, map-side
    // combinable, no joins beyond the final per-doc merge.
    "qEE_doc_repetition" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("toks", TextStats.tokens(col("text")))
        .where(size(col("toks")) >= 6)
        .select("doc_id", "toks")
      val big = d
        .select(col("doc_id"), explode(TextStats.shingles(col("toks"), 2)).as("g"))
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_big"), max("c").as("top_big"))
      val span = d
        .select(col("doc_id"), explode(TextStats.shingles(col("toks"), 5)).as("sp"))
        .groupBy("doc_id", "sp").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum("c").as("n_span"),
          sum(when(col("c") >= 2, col("c")).otherwise(0L)).as("n_dup_pos"))
      big.join(span, "doc_id")
        .select(col("doc_id"), col("n_big"), col("top_big"),
          col("n_span"), col("n_dup_pos"),
          (col("top_big").cast("double") / col("n_big")).as("top2g_frac"),
          (col("n_dup_pos").cast("double") / col("n_span")).as("dup5_frac"),
          (col("top_big") * 100 <= col("n_big") * 18
            && col("n_dup_pos") * 100 <= col("n_span") * 30).as("pass_gate"))
    }),

    // Exact-phrase search via POSITIONAL postings — the inverted-index
    // query class qB4 (bag-of-words cosine) and q85 (BM25) cannot
    // answer: "hash join" must be adjacent in order. Postings =
    // (doc, pos, term) from one posexplode; the phrase match is an
    // equi-join of the two terms' (selective, filter-pushed) posting
    // lists on (doc, pos+1). At 100 TB this is the web-index shape:
    // the text is scanned once, each term's postings are a small
    // fraction of the corpus, and the join never touches documents
    // containing neither term.
    "qD2_phrase_search" -> ((s, dir) => {
      val (t1, t2) = ("hash", "join")
      val posts = table(s, dir, "documents")
        .select(col("doc_id"),
          posexplode(TextStats.tokens(col("text"))).as(Seq("pos", "term")))
      val a = posts.filter(col("term") === t1)
        .select(col("doc_id"), col("pos"))
      val b = posts.filter(col("term") === t2)
        .select(col("doc_id").as("doc_b"), col("pos").as("pos_b"))
      a.join(b, col("doc_id") === col("doc_b")
          && col("pos_b") === col("pos") + 1)
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_occurrences"),
          min("pos").as("first_pos"))
    }),

    // NER trie matcher (broadcast-dictionary extraction), hash-checked
    // against the generated recursive-CTE oracle.
    "q30_ner_topics" -> ((s, dir) => {
      val m = new EntityRuler.Matcher(demoPatterns)
      table(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(",", EntityRuler.nerColumn(m)(col("text"))).as("topics"))
    }),

    // NER with the FULL reference dictionary (25k spaCy patterns)
    // when the reference tree is mounted — exercises the broadcast
    // trie at production dictionary size; falls back to the demo
    // patterns otherwise. Hash-checked per doc against the
    // data-driven DuckDB mirror (nerFullDictOracleSql).
    "q38_ner_full_dict" -> ((s, dir) => {
      val pats =
        if (new java.io.File(patternsPath).exists()) EntityRuler.loadPatternsJsonl(patternsPath)
        else demoPatterns
      val m = new EntityRuler.Matcher(pats)
      table(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(",", EntityRuler.nerColumn(m)(col("text"))).as("topics"))
    }),

    // Lexicon sentiment with prev-token negator/intensifier handling;
    // integer per-mille arithmetic → bit-stable vs the SQL oracle.
    // q39 is the same query under its older key (both share one oracle).
    "q31_sentiment_docs" -> ((s, dir) => sentimentDocs(table(s, dir, "documents"))),
    "q39_sentiment_native" -> ((s, dir) => sentimentDocs(table(s, dir, "documents"))),

    // Token statistics: whitespace tokens, BPE-ish subwords, distinct.
    "q32_token_stats" -> ((s, dir) => {
      val t = col("text")
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.tokenCount(t).as("n_tokens"),
          TextStats.subwordCount(t).as("n_subwords"),
          size(array_distinct(TextStats.tokens(t))).as("n_distinct"))
    }),

    // Stopword-profile language ID with deterministic first-wins ties.
    "q33_lang_id" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.langId(TextStats.tokens(col("text")), langProfiles).as("pred_lang"))
    }),

    // Integer-banded quality score.
    "q34_quality_score" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), TextStats.qualityScoreMilli(col("text")).as("quality"))
        .groupBy("quality").agg(count(lit(1)).as("n"))
    }),

    // Fingerprint dedup: canonical-key grouping (sorted distinct token
    // bag) — exact dedup over a normalization, keep lowest doc_id.
    "q35_fingerprint_dedup" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), TextStats.fingerprint(col("text")).as("fp"))
        .groupBy("fp")
        .agg(min("doc_id").as("keep_id"), count(lit(1)).as("n_docs"))
    }),

    // Order-sensitive rolling hash (positional fingerprint).
    "q36_rolling_hash" -> ((s, dir) => {
      table(s, dir, "documents")
        .select(col("doc_id"), TextStats.rollingHash(col("text")).as("rhash"))
    }),

    // Word-3-gram shingling (the dedup building block).
    "q37_shingles" -> ((s, dir) => {
      val toks = TextStats.tokens(col("text"))
      table(s, dir, "documents")
        .select(col("doc_id"),
          size(TextStats.shingles(toks, 3)).as("n_shingles"),
          size(array_distinct(TextStats.shingles(toks, 3))).as("n_distinct_shingles"))
    }),

    // PII scrubbing over deterministically injected PII (the corpus
    // itself carries none — injecting from doc_id makes the redaction
    // do real, checkable work on every row).
    "q64_pii_scrub" -> ((s, dir) => {
      val id = col("doc_id").cast("string")
      val withPii = concat(col("text"),
        lit(" contact u"), id, lit("@example.com or https://ex.example/"),
        id, lit("/page now"))
      table(s, dir, "documents")
        .select(col("doc_id"), TextStats.scrubPii(withPii).as("clean"))
    }),

    // Gopher-style repetition metrics, integer-exact: duplicate-token
    // count and the top-bigram count (the "fraction of most frequent
    // n-gram" filter's numerator/denominator kept as exact integers —
    // the caller does the one division).
    "q65_repetition" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val toks = TextStats.tokens(col("text"))
      val base = d.select(col("doc_id"),
        size(toks).as("n_tokens"),
        (size(toks) - size(array_distinct(toks))).as("n_dup"))
      val top = d.select(col("doc_id"),
        explode(TextStats.shingles(TextStats.tokens(col("text")), 2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("n"))
        .groupBy("doc_id")
        .agg(max("n").as("top_bigram_n"), sum("n").as("n_bigrams"))
      base.join(top, Seq("doc_id"), "left")
        .na.fill(0L, Seq("top_bigram_n", "n_bigrams"))
    }),

    // Consecutive-duplicate-token removal (stutter cleanup).
    "q66_dedup_consecutive" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"),
          concat_ws(" ",
            TextStats.dedupConsecutive(TextStats.tokens(col("text")))).as("clean"))),

    // Quality-stratified deterministic sampling: band by quality
    // score, then keep each band at its own rate via the q59-style
    // md5 content hash — partition-invariant (same docs survive on 1
    // executor or 1000) and re-runnable, unlike rand()-based sampleBy.
    // Rates: high 1/1, mid 1/2, low 1/16 — the standard "keep the
    // good stuff, thin the tail" curriculum shape.
    "q7B_stratified_sample" -> ((s, dir) => {
      // r15 opt: the band filter used to be PUSHED below the quality
      // projection, inlining qualityScoreMilli ~10x per row into the
      // scan-stage Filter (each copy re-running split/array_distinct)
      // — 1.2 s serial at sf0.1. Spread the under-split scan, score
      // each doc ONCE, and materialize the (doc_id, quality) frame so
      // the filter references the computed column instead of the
      // expression (the guide §4.4 duplication hazard, built-in-
      // expression form). Same rows: hex < rate(quality) is exactly
      // the old band/hex keep rule (high 16/16, mid 8/16, low 1/16).
      val scored = graft.ops.Spread.scan(
          table(s, dir, "documents").select("doc_id", "text"),
          Seq(col("doc_id")))
        .select(col("doc_id"),
          TextStats.qualityScoreMilli(col("text")).as("quality"))
        .localCheckpoint()
      scored
        .withColumn("band",
          when(col("quality") >= 880, lit("high"))
            .when(col("quality") >= 820, lit("mid"))
            .otherwise(lit("low")))
        .withColumn("hex", substring(md5(col("doc_id").cast("string")), 1, 1))
        .filter(col("band") === "high" ||
          (col("band") === "mid" && col("hex").isin((0 to 7).map(_.toString): _*)) ||
          (col("band") === "low" && col("hex") === "0"))
        .select("doc_id", "band", "quality")
    }),

    // Benchmark decontamination: docs whose 3-gram shingles overlap a
    // held-out needle set. The literal needle array folds into the
    // plan (broadcast semantics) so this is a pure narrow map — at
    // production needle-set sizes (millions of eval n-grams) the same
    // shape becomes explode(shingles) + broadcast semi-join.
    "q67_contamination" -> ((s, dir) => {
      val needles = array(ContaminationNeedles.map(lit): _*)
      val sh = array_distinct(TextStats.shingles(TextStats.tokens(col("text")), 3))
      table(s, dir, "documents")
        .select(col("doc_id"), size(array_intersect(sh, needles)).as("n_hits"))
        .filter(col("n_hits") > 0)
    }),

    // Unicode canonicalization ([[UnicodeNormalize]]): the corpus is
    // ASCII-synthetic, so each doc gets a deterministic decomposed
    // suffix [[NfcSuffix]] (four combining marks NFC composes away,
    // plus one pre-composed é that must pass through unchanged —
    // idempotence). Output pins both the normalized STRING
    // (byte-compared against DuckDB's nfc_normalize, which implements
    // the same Unicode tables) and the codepoint-length delta (always
    // 4 here). Narrow map, codegen'd, quick-check fast path — the
    // canonicalize-before-hash step q35/q40-style dedup needs on any
    // real multilingual corpus.
    "qA4_unicode_nfc" -> ((s, dir) => {
      val mixed = concat(substring(col("text"), 1, 24), lit(NfcSuffix))
      table(s, dir, "documents")
        .select(col("doc_id"), mixed.as("raw"),
          UnicodeNormalize.nfc(mixed).as("nfc"))
        .select(col("doc_id"), col("nfc"),
          length(col("raw")).as("raw_len"),
          length(col("nfc")).as("nfc_len"))
    }),

    // Curriculum binning: equal-size difficulty tiers (exact ntile
    // semantics over the quality ordering, doc_id tiebreak → total
    // order → deterministic membership in both engines). Per-tier
    // audit = the data-mixing table a curriculum schedule consumes.
    // Exact equal bins still cost a distributed range sort; if even
    // that is too much, the cheaper trade is approx-quantile cutoffs
    // (q92) + a narrow filter, giving up exact bin sizes.
    "qA9_curriculum_bins" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .select(col("doc_id"),
          TextStats.qualityScoreMilli(col("text")).as("quality"),
          size(TextStats.tokens(col("text"))).cast("long").as("n_tok"))
      // round 8: the global ntile window (single task holding every
      // doc) is now DistributedRank's range-ledger ntile — parallel
      // range sort, bit-identical buckets by the qE2-pinned remainder
      // rule; cast back to ntile's INTEGER for the driver contract
      graft.ops.DistributedRank.withNtile(d, 32, 8,
          Seq(col("quality").desc, col("doc_id").asc), "binL")
        .withColumn("bin", col("binL").cast("int")).drop("binL")
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"), max("quality").as("q_hi"),
          min("quality").as("q_lo"), sum("n_tok").as("n_tokens"))
    }),

    // PMI collocation mining (Church–Hanks): top word pairs by
    // pointwise mutual information ln(P(ab)/(P(a)P(b))) — the
    // classic "multi-word expression" extractor (and the statistic
    // behind word2vec's SGNS objective). Float discipline: counts
    // are exact integers and the score is a fixed-order sum of FOUR
    // correctly-rounded LnExact values — no division, so the DOUBLE
    // hash-matches. Scale shape: two count aggs (bigram, unigram) +
    // two broadcast-joinable count lookups + TakeOrdered top-20; the
    // corpus is never paired quadratically.
    "qAD_pmi_collocations" -> ((s, dir) => {
      val d = table(s, dir, "documents")
      val toks = TextStats.tokens(col("text"))
      val bg = d.select(explode(TextStats.shingles(toks, 2)).as("bg"))
      val bgc = bg.groupBy("bg").agg(count(lit(1)).as("n_ab"))
      val uni = d.select(explode(toks).as("w"))
        .groupBy("w").agg(count(lit(1)).as("nw"))
      val tot = bg.agg(count(lit(1)).as("n_big"))
      bgc.filter(col("n_ab") >= 5)
        .withColumn("a", split(col("bg"), " ").getItem(0))
        .withColumn("b", split(col("bg"), " ").getItem(1))
        .join(uni.select(col("w").as("a"), col("nw").as("n_a")), "a")
        .join(uni.select(col("w").as("b"), col("nw").as("n_b")), "b")
        .crossJoin(broadcast(tot))
        .withColumn("pmi",
          LnExact(col("n_ab")) + LnExact(col("n_big"))
            - LnExact(col("n_a")) - LnExact(col("n_b")))
        .orderBy(col("pmi").desc, col("bg").asc).limit(20)
        .select("bg", "n_ab", "n_a", "n_b", "pmi")
    }),

    // χ² keyness (term–language association over doc presence): for
    // each language, the top-5 terms whose document frequency most
    // deviates from corpus expectation — the classic keyword-
    // extraction / corpus-comparison statistic (Dunning/Rayson
    // family, χ² form). Exact by the qB3 discipline: the 2×2 margins
    // (a=docs(lang,term), nl, nt, N) are integer counts, χ² =
    // N(ad-bc)² / (nl·(N-nl)·nt·(N-nt)) folds in decimal(38,0)
    // (HUGEINT in the oracle), and the only float op is the final
    // cast-cast-divide. Scale shape: presence lists are per-doc
    // distinct (vocab-bounded), margins are two broadcast-sized
    // aggregates, top-5/lang runs on GroupedTopK partial heaps.
    "qBB_chi2_keyness" -> ((s, dir) => {
      val docs = table(s, dir, "documents")
      val pres = docs.select(col("lang"), col("doc_id"),
        explode(array_distinct(TextStats.tokens(col("text")))).as("term"))
      val a = pres.groupBy("lang", "term").agg(count(lit(1)).as("a"))
      val nl = docs.groupBy("lang").agg(count(lit(1)).as("nl"))
      val nt = pres.groupBy("term").agg(count(lit(1)).as("nt"))
      val tot = docs.agg(count(lit(1)).as("nn"))
      val dec = (c: org.apache.spark.sql.Column) => c.cast("decimal(38,0)")
      val scored = a.join(broadcast(nl), "lang").join(broadcast(nt), "term")
        .crossJoin(broadcast(tot))
        .withColumn("b", col("nl") - col("a"))
        .withColumn("c", col("nt") - col("a"))
        .withColumn("d", col("nn") - col("nl") - col("nt") + col("a"))
        .withColumn("num0",
          dec(col("a")) * dec(col("d")) - dec(col("b")) * dec(col("c")))
        .withColumn("chi2",
          (dec(col("nn")) * col("num0") * col("num0")).cast("double")
            / (dec(col("nl")) * dec(col("nn") - col("nl"))
               * dec(col("nt")) * dec(col("nn") - col("nt"))).cast("double"))
      graft.plans.GroupedTopK.topK(scored, Seq(col("lang")),
          Seq(col("chi2").desc, col("term").asc), 5)
        .select("lang", "term", "a", "nl", "nt", "chi2")
    }),

    // Higher-order array functions as the user-facing surface:
    // filter / exists / forall / aggregate lambdas over the token
    // array, all evaluated INSIDE the row (no explode, no shuffle,
    // codegen'd) — the idiom that keeps per-doc token analytics a
    // narrow map at 100 TB instead of a corpus-sized explode. The
    // integer fold (aggregate) is exact; the three predicates mirror
    // DuckDB's list_filter spellings.
    "qC6_array_hof" -> ((s, dir) =>
      table(s, dir, "documents")
        .select(col("doc_id"), TextStats.tokens(col("text")).as("w"))
        .select(col("doc_id"),
          size(filter(col("w"), t => length(t) >= 6)).as("n_long"),
          exists(col("w"), t => t.rlike("[0-9]")).as("has_digit"),
          forall(col("w"), t => length(t) <= 12).as("all_short"),
          aggregate(col("w"), lit(0L), (a, t) => a + length(t))
            .as("total_chars"))),

    // Hashing-trick featurization: tokens land in a FIXED 64-bucket
    // space via an md5-derived hash — no vocabulary is ever built,
    // broadcast, or joined, which is the whole point at 100 TB (a
    // dictionary-based featurizer needs a corpus-wide distinct +
    // broadcast that grows with the data; the hashed space is O(1)
    // and collision-tolerant by design, Weinberger '09). One narrow
    // map + one combine-heavy agg; the md5 bucket is deterministic on
    // both engines, unlike engine-native hash().
    "qE4_feature_hash" -> ((s, dir) =>
      table(s, dir, "documents")
        .filter(col("doc_id") % 25 === 0)
        .select(col("doc_id"),
          explode(TextStats.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
        .withColumn("bucket",
          pmod(conv(substring(md5(col("term")), 1, 15), 16, 10)
            .cast("long"), lit(64L)))
        .groupBy("doc_id", "bucket")
        .agg(count(lit(1)).as("cnt"))),

    // Multinomial Naive Bayes training (add-one smoothing) — the
    // classic scalable text classifier: parameters are PURE counts,
    // so training is two map-side-combine aggregations and never
    // iterates. Zero-count (class, term) cells get the 1/(tot+V)
    // smoothed mass via a classes×terms cross (classes are tiny —
    // broadcast), and the smoothed probability is exact integer ppm:
    // (cnt+1)·1e6 div (class_tot+V) — bit-identical on both engines,
    // no float aggregation anywhere.
    "qE5_naive_bayes" -> ((s, dir) => {
      val tok = table(s, dir, "documents")
        .select(col("lang"),
          explode(TextStats.tokens(col("text"))).as("term"))
        .filter(col("term") =!= "")
      // r16 (guide §2.4): vocab, classTot, freq and counts each re-ran
      // the scan+tokenize+explode pass — FOUR full token passes per
      // run. One (lang, term) aggregate carries all of them exactly:
      // class totals are sums of per-class term counts, term totals
      // are sums across classes, vocab is the distinct-term count of
      // the same frame. The checkpointed base is |langs|×|vocab| rows
      // (bounded by the vocabulary, never the corpus); on a cluster
      // this is persist().
      val base = tok.groupBy("lang", "term")
        .agg(count(lit(1)).as("cnt"))
        .localCheckpoint()
      val vocab = base.agg(countDistinct(col("term")).as("vocab"))
      val classTot = base.groupBy("lang")
        .agg(sum(col("cnt")).as("class_tot"))
      val freq = base.groupBy("term").agg(sum(col("cnt")).as("n_term"))
        .filter(col("n_term") >= 40)
      val counts = base
        .join(broadcast(freq.select("term")), Seq("term"), "left_semi")
        .select("lang", "term", "cnt")
      freq.select("term").crossJoin(broadcast(classTot))
        .join(counts, Seq("lang", "term"), "left_outer")
        .na.fill(0L, Seq("cnt"))
        .crossJoin(broadcast(vocab))
        // decimal numerator: a stop-word's class count reaches 1e13 at
        // a 100 TB corpus, so cnt·1e6 wraps int64; the smoothed ppm
        // quotient is ≤ 1e6 and stays BIGINT
        .withColumn("p_ppm",
          expr("(CAST(cnt + 1 AS DECIMAL(38,0)) * 1000000)"
            + " div (class_tot + vocab)"))
        .select("lang", "term", "cnt", "class_tot", "vocab", "p_ppm")
    }),

    // N-gram novelty / memorization audit — the pre-training check
    // that catches boilerplate and cross-document copying that
    // doc-level dedup misses: what fraction of each source's 8-gram
    // instances also occur in at least one OTHER document? Shape:
    // shingle explode (linear in tokens) → 60-bit hash → document
    // frequency via a two-phase distinct agg keyed on the hash (a
    // narrow long shuffle, never the shingle strings) → hash join
    // back → per-source rollup (bounded rows). Counts exact; the
    // dup-rate is one pinned division per source.
    "q120_ngram_novelty" -> ((s, dir) => {
      // Spread.scan (r15 opt): `sh` is consumed twice (the df agg and
      // the join back), and each consumer re-ran the ~5M-shingle md5
      // pass SERIALLY on the single-split scan; spread, both re-runs
      // are parallel (identity at real scale — guide §2.5)
      val sh = graft.ops.Spread.scan(
          table(s, dir, "documents").select("doc_id", "source", "text"),
          Seq(col("doc_id")))
        .select(col("doc_id"), col("source"),
          TextStats.tokens(col("text")).as("w"))
        .filter(size(col("w")) >= 8)
        .select(col("doc_id"), col("source"),
          explode(TextStats.shingles(col("w"), 8)).as("g"))
        .select(col("doc_id"), col("source"),
          graft.dedup.Dedup.md5Long(col("g")).as("h"))
      // r16 (guide §2.4): the old form computed `sh` (the ~5M-shingle
      // tokenize+md5 pass) TWICE — once for the per-hash df aggregate
      // and once as the instance-level join probe — and shuffled the
      // full instance stream on h for the join. One aggregate to
      // (h, source) carries both needs: each doc_id has exactly ONE
      // source, so the per-h distinct-doc count is the SUM of the
      // per-(h, source) distinct counts, and the per-source rollup
      // sums instance counts instead of re-touching instances. sh now
      // has one consumer (one pass), and the only h-keyed shuffle
      // carries distinct-gram aggregate rows, never instances.
      val g1 = sh.groupBy("h", "source")
        .agg(count(lit(1)).as("n_inst"),
          countDistinct(col("doc_id")).as("nd"))
      g1.withColumn("docf", sum(col("nd")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("h")))
        .groupBy("source")
        .agg(sum(col("n_inst")).as("n_shingles"),
          sum(when(col("docf") >= 2, col("n_inst")).otherwise(0L)).as("n_shared"))
        .withColumn("dup_rate", expr(
          "CAST(n_shared AS DOUBLE) / n_shingles"))
        .withColumn("novelty", expr("1.0 - dup_rate"))
    })
  )

  /** Per-doc sentiment over WHITESPACE tokens — the tokenization the
    * DuckDB oracle ([[sentimentOracleSql]]) can mirror with
    * `string_split`; punctuation-adjacent words miss by design. */
  private[graft] def sentimentDocs(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
      SentimentScore(split(col("text"), " ")).as("sentiment"))

  /** qA4's probe suffix, shared verbatim with the oracle SQL: one
    * PRE-composed é (U+00E9), then decomposed e+U+0301, i+U+0308,
    * A+U+030A, o+U+0308 — NFC leaves the first alone and composes the
    * four marks, shortening the string by exactly 4 codepoints. */
  private val NfcSuffix =
    " caf\u00e9 cafe\u0301 nai\u0308ve A\u030angstro\u0308m"

  /** Needle 3-grams for q67: three present in the corpus, one held
    * out (must never match — an always-true overlap would hide a
    * broken intersect). */
  private val ContaminationNeedles = Seq(
    "stream table hash", "row column sort", "part filter scan", "held out gram")

  /** The reference's serialized spaCy dictionary (mounted read-only;
    * the assignment's own data — read at runtime, never vendored). */
  private val patternsPath = "/root/reference/NER_model/entity_ruler/patterns.jsonl"

  private[queries] def sq(s: String): String = "'" + s.replace("'", "''") + "'"

  /** CASE expression translating [[Sentiment.lexicon]] to SQL. */
  private[queries] def lexiconCaseSql(tokExpr: String): String =
    "CASE " + tokExpr + " " + Sentiment.lexicon.toSeq.sortBy(_._1)
      .map { case (w, p) => s"WHEN ${sq(w)} THEN $p" }.mkString(" ") + " ELSE NULL END"

  /** Window-2 modifier (mirror of Sentiment.scoreParts): negator at
    * i−1, or at i−2 through an intensifier, flips ×−0.5; otherwise
    * the i−1 intensifier multiplier applies. */
  private[queries] def modifierCaseSql(prevExpr: String,
      prev2Expr: String): String = {
    val negs = Sentiment.negators.toSeq.sorted.map(sq).mkString(", ")
    val intWords = Sentiment.intensifiers.keysIterator.toSeq.sorted
      .map(sq).mkString(", ")
    val ints = Sentiment.intensifiers.toSeq.sortBy(_._1)
      .map { case (w, m) => s"WHEN $prevExpr = ${sq(w)} THEN $m" }.mkString(" ")
    s"CASE WHEN $prevExpr IN ($negs) THEN -500 " +
      s"WHEN $prevExpr IN ($intWords) AND $prev2Expr IN ($negs) THEN -500 " +
      s"$ints ELSE 1000 END"
  }

  /** DuckDB mirror of the EntityRuler longest-match walk over
    * [[demoPatterns]], as a recursive-CTE fragment (defines `doc`,
    * `walk`, `phrases`; caller prepends `WITH RECURSIVE`). The match
    * is inherently sequential (a match CONSUMES its tokens — "sort
    * merge" must not also emit "Merge"), so it can't be a flat
    * unnest; the recursion advances a cursor per doc exactly like
    * Matcher.matchTokens. CASE arms are GENERATED from demoPatterns
    * ordered (longest, then declaration index) so the SQL and the
    * Scala dict cannot drift. Structural @mention / "#"+ASCII rules
    * and the first-occurrence dedup + ['empty'] sentinel mirror
    * EntityRuler.scala's contract. */
  private[queries] lazy val nerWalkSql: String = nerWalkSqlFrom("documents")

  /** As [[nerWalkSql]] with the document source relation
    * parameterized — the pipeline oracles walk a SAMPLED subset. */
  private[queries] def nerWalkSqlFrom(src: String): String = {
    import EntityRuler.{LowerTok, ExactTok, TokPat}
    // graft.text.Tokenizer.Tok with the quote doubled for a SQL literal
    val tokRe = "@[A-Za-z0-9_]+|[A-Za-z0-9_]+(?:''[A-Za-z]+)?|[^A-Za-z0-9_\\s]"
    def cond(t: TokPat, off: Int): String = t match {
      case LowerTok(x) =>
        s"lower(d.w[wk.i + $off]) = ${sq(x.toLowerCase(java.util.Locale.ROOT))}"
      case ExactTok(x) => s"d.w[wk.i + $off] = ${sq(x)}"
    }
    val ordered = demoPatterns.zipWithIndex
      .sortBy { case (p, idx) => (-p.toks.length, idx) }
    val topicArms = ordered.map { case (p, _) =>
      val c = p.toks.zipWithIndex.map { case (t, k) => cond(t, k) }.mkString(" AND ")
      val emit = p.id.map(sq).getOrElse(
        p.toks.indices.map(k => s"d.w[wk.i + $k]").mkString(" || ' ' || "))
      s"WHEN $c THEN $emit"
    }.mkString("\n            ")
    val stepArms = ordered.filter(_._1.toks.length > 1).map { case (p, _) =>
      val c = p.toks.zipWithIndex.map { case (t, k) => cond(t, k) }.mkString(" AND ")
      s"WHEN $c THEN ${p.toks.length}"
    }.mkString("\n            ")
    val hashtagCond =
      """d.w[wk.i] = '#' AND regexp_full_match(d.w[wk.i + 1], '[\x00-\x7F]+')"""
    s"""doc AS MATERIALIZED (
          SELECT doc_id, regexp_extract_all(coalesce(text, ''), '$tokRe') AS w
          FROM $src),
        walk(doc_id, i, acc) AS (
          SELECT doc_id, 1, CAST([] AS VARCHAR[]) FROM doc
          UNION ALL
          SELECT doc_id, i + step,
            CASE WHEN topic IS NOT NULL AND NOT list_contains(acc, topic)
                 THEN list_append(acc, topic) ELSE acc END
          FROM (
            SELECT wk.doc_id, wk.i, wk.acc,
              CASE
            $topicArms
            WHEN len(d.w[wk.i]) > 1 AND d.w[wk.i][1] = '@' THEN d.w[wk.i]
            WHEN $hashtagCond THEN '#' || d.w[wk.i + 1]
            ELSE NULL END AS topic,
              CASE
            $stepArms
            WHEN $hashtagCond THEN 2
            ELSE 1 END AS step
            FROM walk wk JOIN doc d USING (doc_id)
            WHERE wk.i <= len(d.w)
          ) s),
        phrases AS (
          SELECT doc_id,
            CASE WHEN len(acc) = 0 THEN ['empty'] ELSE acc END AS phrases
          FROM (SELECT doc_id, acc,
                  row_number() OVER (PARTITION BY doc_id ORDER BY i DESC) AS rn
                FROM walk) z
          WHERE rn = 1)"""
  }

  /** DuckDB mirror of the EntityRuler walk for the FULL 25k-pattern
    * spaCy dictionary. Unlike [[nerWalkSql]] (CASE arms generated from
    * the 9-pattern demo dict), this is data-driven: `read_json` loads
    * patterns.jsonl, per-token attrs become typed edge keys ("L"+lower
    * / "E"+exact — the same encoding as Matcher's trie edges), match
    * candidates come from a first-token equi-join + lambda-verified
    * tail, and longest-match/earliest-declared resolution is a window
    * over (len DESC, idx). Structural rows (TEXT-regex / IS_ASCII) are
    * skipped exactly like EntityRuler.loadPatternsJsonl — json paths
    * are case-sensitive, so `$.Text` misses the structural `TEXT` key,
    * and non-string attr values extract as NULL. The walk CTEs are
    * MATERIALIZED: DuckDB otherwise re-evaluates the whole candidate
    * pipeline on every recursion level (measured 137 s → 1.1 s). */
  private[queries] lazy val nerFullDictOracleSql: String = {
    val tokRe = "@[A-Za-z0-9_]+|[A-Za-z0-9_]+(?:''[A-Za-z]+)?|[^A-Za-z0-9_\\s]"
    val hashtagCond =
      """d.w[wk.i] = '#' AND regexp_full_match(d.w[wk.i + 1], '[\x00-\x7F]+')"""
    s"""WITH RECURSIVE
        rawp AS (
          SELECT row_number() OVER () AS idx, id, pattern
          FROM read_json('$patternsPath',
                         format='newline_delimited',
                         columns={'label':'VARCHAR','pattern':'JSON','id':'VARCHAR'})),
        ptok AS (
          SELECT idx, id, ti,
            json_extract_string(pattern, '$$[' || (ti - 1) || '].LOWER') AS lo,
            coalesce(json_extract_string(pattern, '$$[' || (ti - 1) || '].Text'),
                     json_extract_string(pattern, '$$[' || (ti - 1) || '].ORTH')) AS ex
          FROM (SELECT idx, id, pattern,
                  unnest(range(1, CAST(json_array_length(pattern) AS BIGINT) + 1)) AS ti
                FROM rawp)),
        pats AS (
          SELECT idx, any_value(id) AS id, CAST(count(*) AS INTEGER) AS n,
            list(CASE WHEN lo IS NOT NULL THEN 'L' || lower(lo) ELSE 'E' || ex END
                 ORDER BY ti) AS keys
          FROM ptok GROUP BY idx
          HAVING bool_and(lo IS NOT NULL OR ex IS NOT NULL)),
        doc AS MATERIALIZED (
          SELECT doc_id, regexp_extract_all(coalesce(text, ''), '$tokRe') AS w
          FROM documents),
        pos AS (
          SELECT doc_id, unnest(range(1, len(w) + 1)) AS i, w FROM doc),
        poskey AS (
          SELECT doc_id, i, w, 'L' || lower(w[i]) AS k FROM pos
          UNION ALL
          SELECT doc_id, i, w, 'E' || w[i] AS k FROM pos),
        cand AS (
          SELECT pk.doc_id, pk.i, q.n AS len, q.idx,
            coalesce(q.id, array_to_string(pk.w[pk.i : pk.i + q.n - 1], ' ')) AS emit
          FROM poskey pk JOIN pats q ON q.keys[1] = pk.k
          WHERE pk.i + q.n - 1 <= len(pk.w)
            AND len(list_filter(range(2, q.n + 1), j ->
                  CASE WHEN q.keys[j][1] = 'L' THEN 'L' || lower(pk.w[pk.i + j - 1])
                       ELSE 'E' || pk.w[pk.i + j - 1] END = q.keys[j])) = q.n - 1),
        best AS MATERIALIZED (
          SELECT doc_id, i, len, emit FROM (
            SELECT *, row_number() OVER (PARTITION BY doc_id, i
                                         ORDER BY len DESC, idx) AS rn
            FROM cand) z WHERE rn = 1),
        walk(doc_id, i, acc) AS (
          SELECT doc_id, 1, CAST([] AS VARCHAR[]) FROM doc
          UNION ALL
          SELECT doc_id, i + step,
            CASE WHEN topic IS NOT NULL AND NOT list_contains(acc, topic)
                 THEN list_append(acc, topic) ELSE acc END
          FROM (
            SELECT wk.doc_id, wk.i, wk.acc,
              CASE WHEN b.emit IS NOT NULL THEN b.emit
                   WHEN len(d.w[wk.i]) > 1 AND d.w[wk.i][1] = '@' THEN d.w[wk.i]
                   WHEN $hashtagCond THEN '#' || d.w[wk.i + 1]
                   ELSE NULL END AS topic,
              CASE WHEN b.len IS NOT NULL THEN b.len
                   WHEN $hashtagCond THEN 2
                   ELSE 1 END AS step
            FROM walk wk JOIN doc d USING (doc_id)
            LEFT JOIN best b ON b.doc_id = wk.doc_id AND b.i = wk.i
            WHERE wk.i <= len(d.w)) s),
        phrases AS (
          SELECT doc_id,
            CASE WHEN len(acc) = 0 THEN ['empty'] ELSE acc END AS phrases
          FROM (SELECT doc_id, acc,
                  row_number() OVER (PARTITION BY doc_id ORDER BY i DESC) AS rn
                FROM walk) z
          WHERE rn = 1)
        SELECT doc_id, array_to_string(phrases, ',') AS topics FROM phrases"""
  }

  private lazy val sentimentOracleSql: String = {
    val pol = lexiconCaseSql("lower(p[1])")
    val mod = modifierCaseSql("lower(p[2])", "lower(p[3])")
    // prev2 slice bound needs greatest(..., 0): a negative DuckDB
    // slice bound wraps from the END (w[:-1] on a 1-token list is
    // the whole list, not empty)
    s"""WITH d AS (
            SELECT doc_id, coalesce(text, '') AS text FROM documents),
          w0 AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM d),
          z AS (
            SELECT doc_id,
              list_zip(w,
                       list_prepend('', w[:len(w) - 1]),
                       list_prepend('', list_prepend('', w[:greatest(len(w) - 2, 0)]))) AS pairs
            FROM w0),
          adj AS (
            SELECT doc_id,
              list_filter(list_transform(pairs,
                p -> CAST($pol AS BIGINT) * ($mod)), x -> x IS NOT NULL) AS a
            FROM z)
          SELECT doc_id,
            CASE WHEN len(a) = 0 THEN 0.0
                 ELSE (CAST(list_sum(a) AS DOUBLE) / len(a)) / 1000000.0 END AS sentiment
          FROM adj"""
  }

  /** Per-doc quality-milli mirror of TextStats.qualityScoreMilli —
    * CTE `q(doc_id, quality)`; shared by q34 and q7B. */
  private[queries] val qualityMilliSql =
    """WITH m AS (
         SELECT doc_id, len(text) AS lt,
           greatest(len(string_split(text, ' ')), 1) AS nt,
           len(list_distinct(string_split(text, ' '))) AS nd
         FROM documents),
       q AS (
         SELECT doc_id,
           CASE WHEN lt BETWEEN 200 AND 2000 THEN 350
                WHEN lt >= 50 THEN 220 ELSE 40 END
           + CASE WHEN (lt * 10) / nt BETWEEN 35 AND 80 THEN 250
                  WHEN (lt * 10) / nt BETWEEN 20 AND 120 THEN 170
                  ELSE 40 END
           + CASE WHEN CAST(floor((nd * 200) / nt) AS INT) >= 100 THEN 200
                  WHEN CAST(floor((nd * 200) / nt) AS INT) >= 40 THEN 130
                  ELSE 50 END
           + CAST(floor((nd * 200) / nt) AS INT) AS quality
         FROM m)"""

  def oracles: Map[String, String] = Map(
    // same (count DESC, term ASC) ranks, same 1/10⁶ ln floors, same
    // exact moment integers and pinned divisions
    "q108_zipf_slope" ->
      """WITH c AS (
           SELECT u.term AS term, CAST(count(*) AS BIGINT) AS cnt
           FROM documents, unnest(string_split(text, ' ')) AS u(term)
           GROUP BY u.term),
         r AS (
           SELECT CAST(row_number() OVER (ORDER BY cnt DESC, term ASC) AS BIGINT)
             AS rnk, cnt
           FROM c),
         fp AS (
           SELECT CAST(floor(ln(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT) AS x,
             CAST(floor(ln(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT) AS y
           FROM r),
         m AS (
           -- sums stay HUGEINT so the slope products mirror Spark's
           -- decimal(38,0) math; BIGINT casts are output-only TRY_CASTs
           SELECT CAST(count(*) AS BIGINT) AS v,
             sum(x) AS sxd, sum(y) AS syd,
             sum(x * y) AS sxyd, sum(x * x) AS sxxd
           FROM fp),
         s AS (
           -- the HUGEINT->DOUBLE route goes through VARCHAR: DuckDB
           -- 1.0's direct hugeint cast composes upper*2^64 + lower in
           -- float math and is off by an ulp for NEGATIVE values even
           -- inside int64 range (sf1 certification caught it: num
           -- -1.7e16 drifted to ...0694 vs the correctly-rounded
           -- ...06943 Spark's decimal cast produces); the string
           -- parser is correctly rounded at any magnitude
           SELECT v, sxd, syd, sxyd, sxxd,
             CAST(CAST(v * sxyd - sxd * syd AS VARCHAR) AS DOUBLE)
               / CAST(CAST(v * sxxd - sxd * sxd AS VARCHAR) AS DOUBLE) AS slope
           FROM m)
         SELECT v, TRY_CAST(sxd AS BIGINT) AS s_x,
           TRY_CAST(syd AS BIGINT) AS s_y,
           TRY_CAST(sxyd AS BIGINT) AS s_xy,
           TRY_CAST(sxxd AS BIGINT) AS s_xx, slope,
           (CAST(syd AS DOUBLE) - slope * CAST(sxd AS DOUBLE)) / v / 1e6
             AS intercept
         FROM s""",

    // same forward contexts via list indexing (postings idiom: the
    // constant series bound fails loudly on overflow), same
    // lexicographic top-30 cut
    "q105_skipgram_cooc" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         p AS (
           SELECT CASE WHEN len(w) > 4096
                       THEN error('token list exceeds skipgram bound 4096')
                       ELSE w[g.i] END AS center,
             w[g.i + 1] AS c1, w[g.i + 2] AS c2,
             g.i AS i, len(w) AS lw
           FROM t, generate_series(1, 4096) g(i)
           WHERE g.i <= len(w)),
         pairs AS (
           SELECT center, c1 AS context, 1 AS dist FROM p WHERE i + 1 <= lw
           UNION ALL
           SELECT center, c2, 2 FROM p WHERE i + 2 <= lw),
         c AS (
           SELECT center, context, CAST(dist AS INTEGER) AS dist,
             CAST(count(*) AS BIGINT) AS n
           FROM pairs GROUP BY center, context, dist),
         r AS (
           SELECT *, CAST(row_number() OVER (
             ORDER BY n DESC, center ASC, context ASC, dist ASC) AS BIGINT) AS rnk
           FROM c)
         SELECT center, context, dist, n, rnk FROM r WHERE rnk <= 30""",

    // same space-split tokens, same two-level count rollup, same
    // final divisions
    "qFD_type_token" ->
      """WITH t AS (
           SELECT source, u.term AS term
           FROM documents, unnest(string_split(text, ' ')) AS u(term)),
         c AS (
           SELECT source, term, CAST(count(*) AS BIGINT) AS cnt
           FROM t GROUP BY source, term),
         st AS (
           SELECT source, CAST(count(*) AS BIGINT) AS distinct_terms,
             CAST(sum(cnt) AS BIGINT) AS total_tokens,
             CAST(sum(CASE WHEN cnt = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax
           FROM c GROUP BY source),
         nd AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_docs
           FROM documents GROUP BY source)
         SELECT source, n_docs, total_tokens, distinct_terms, hapax,
           CAST(distinct_terms AS DOUBLE) / CAST(total_tokens AS DOUBLE) AS ttr,
           CAST(hapax AS DOUBLE) / CAST(distinct_terms AS DOUBLE) AS hapax_rate
         FROM st JOIN nd USING (source)""",

    // same space-split tokens; n-gram lists via the inclusive-slice
    // comprehension (shinglesSql's shape at n=2 and n=5); identical
    // integer gates and one-division fractions
    "qEE_doc_repetition" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w
           FROM documents
           WHERE len(string_split(text, ' ')) >= 6),
         bg AS (
           SELECT doc_id, u.g
           FROM (SELECT doc_id,
                   [array_to_string(w[i:i+1], ' ')
                    for i in generate_series(1, len(w) - 1)] AS gs
                 FROM t),
                unnest(gs) AS u(g)),
         bgc AS (
           SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g),
         big AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_big,
             CAST(max(c) AS BIGINT) AS top_big
           FROM bgc GROUP BY doc_id),
         sp AS (
           SELECT doc_id, u.s
           FROM (SELECT doc_id,
                   [array_to_string(w[i:i+4], ' ')
                    for i in generate_series(1, len(w) - 4)] AS ss
                 FROM t),
                unnest(ss) AS u(s)),
         spc AS (
           SELECT doc_id, s, count(*) AS c FROM sp GROUP BY doc_id, s),
         span AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_span,
             CAST(sum(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT) AS n_dup_pos
           FROM spc GROUP BY doc_id)
         SELECT doc_id, n_big, top_big, n_span, n_dup_pos,
           CAST(top_big AS DOUBLE) / n_big AS top2g_frac,
           CAST(n_dup_pos AS DOUBLE) / n_span AS dup5_frac,
           (top_big * 100 <= n_big * 18
             AND n_dup_pos * 100 <= n_span * 30) AS pass_gate
         FROM big JOIN span USING (doc_id)""",

    // same postings (0-based positions via the constant-series +
    // len-filter pattern, loud overflow guard), same adjacency join
    "qD2_phrase_search" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         posts AS (
           SELECT doc_id, g.i - 1 AS pos,
             CASE WHEN len(w) > 4096
                  THEN error('token list exceeds postings bound 4096')
                  ELSE w[g.i] END AS term
           FROM t, generate_series(1, 4096) g(i)
           WHERE g.i <= len(w)),
         a AS (SELECT doc_id, pos FROM posts WHERE term = 'hash'),
         b AS (SELECT doc_id, pos FROM posts WHERE term = 'join')
         SELECT a.doc_id, count(*) AS n_occurrences,
           CAST(min(a.pos) AS INTEGER) AS first_pos
         FROM a JOIN b ON b.doc_id = a.doc_id AND b.pos = a.pos + 1
         GROUP BY a.doc_id""",

    "q30_ner_topics" ->
      s"""WITH RECURSIVE $nerWalkSql
          SELECT doc_id, array_to_string(phrases, ',') AS topics FROM phrases""",
    "q38_ner_full_dict" -> nerFullDictOracleSql,
    "q31_sentiment_docs" -> sentimentOracleSql,
    "q39_sentiment_native" -> sentimentOracleSql,

    "q32_token_stats" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INTEGER) AS n_tokens,
           CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS INTEGER) AS n_subwords,
           CAST(len(list_distinct(string_split(text, ' '))) AS INTEGER) AS n_distinct
         FROM documents""",

    "q33_lang_id" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         sc AS (
           SELECT doc_id,
             len(list_filter(w, x -> x IN ('the', 'a'))) AS s_en,
             len(list_filter(w, x -> x IN ('table', 'row', 'column'))) AS s_db,
             len(list_filter(w, x -> x IN ('spark', 'stream', 'batch'))) AS s_big
           FROM t)
         SELECT doc_id,
           CASE WHEN s_en >= s_db AND s_en >= s_big AND s_en > 0 THEN 'en'
                WHEN s_db >= s_big AND s_db > 0 THEN 'db'
                WHEN s_big > 0 THEN 'bigdata'
                ELSE 'und' END AS pred_lang
         FROM sc""",

    "q34_quality_score" ->
      s"""$qualityMilliSql
         SELECT quality, count(*) AS n FROM q GROUP BY quality""",

    // same per-doc quality + the q59 partition-invariant md5 sampler,
    // stratified: high keeps all, mid 1/2 (hex 0-7), low 1/16 (hex 0)
    "q7B_stratified_sample" ->
      s"""$qualityMilliSql,
         banded AS (
           SELECT doc_id, quality,
             CASE WHEN quality >= 880 THEN 'high'
                  WHEN quality >= 820 THEN 'mid'
                  ELSE 'low' END AS band,
             substr(md5(CAST(doc_id AS VARCHAR)), 1, 1) AS hex
           FROM q)
         SELECT doc_id, band, quality FROM banded
         WHERE band = 'high'
            OR (band = 'mid' AND hex IN ('0','1','2','3','4','5','6','7'))
            OR (band = 'low' AND hex = '0')""",

    "q35_fingerprint_dedup" ->
      """SELECT md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS fp,
           min(doc_id) AS keep_id, count(*) AS n_docs
         FROM documents GROUP BY 1""",

    "q36_rolling_hash" -> {
      // same content hash: (i+1)·(md5₆₀ mod 2³¹−1), md5₆₀ as the
      // established first-15-hex-digits mirror of Md5Long
      val weights = (1 to 64).map(_.toString).mkString("[", ", ", "]")
      s"""WITH t AS (
            SELECT doc_id,
              list_zip((string_split(text, ' '))[:64], $weights) AS z
            FROM documents)
          SELECT doc_id,
            CAST(coalesce(list_sum(list_transform(z,
              p -> CASE WHEN p[1] IS NULL THEN 0
                        ELSE (CAST(('0x' || substr(md5(p[1]), 1, 15)) AS BIGINT)
                              % 2147483647) * p[2] END)), 0)
              % 2147483647 AS BIGINT) AS rhash
          FROM t"""
    },

    "q37_shingles" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         s AS (
           SELECT doc_id,
             CASE WHEN len(w) >= 3
                  THEN [array_to_string(w[i:i+2], ' ') for i in generate_series(1, len(w) - 2)]
                  ELSE [] END AS sh
           FROM t)
         SELECT doc_id, CAST(len(sh) AS INTEGER) AS n_shingles,
           CAST(len(list_distinct(sh)) AS INTEGER) AS n_distinct_shingles
         FROM s""",

    // IDENTICAL regexes to TextStats.scrubPii (RE2∩Java subset);
    // DuckDB needs the explicit 'g' flag for global replacement
    "q64_pii_scrub" ->
      """SELECT doc_id,
           regexp_replace(
             regexp_replace(
               text || ' contact u' || doc_id || '@example.com or https://ex.example/'
                    || doc_id || '/page now',
               'https?://[^ ]+', '<URL>', 'g'),
             '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g') AS clean
         FROM documents""",

    "q65_repetition" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         base AS (
           SELECT doc_id, CAST(len(w) AS INTEGER) AS n_tokens,
             CAST(len(w) - len(list_distinct(w)) AS INTEGER) AS n_dup
           FROM t),
         bgl AS (
           SELECT doc_id,
             CASE WHEN len(w) >= 2
                  THEN [array_to_string(w[i:i+1], ' ') for i in generate_series(1, len(w) - 1)]
                  ELSE [] END AS sh
           FROM t),
         cnt AS (
           SELECT doc_id, u.s AS bg, count(*) AS n
           FROM bgl, unnest(sh) AS u(s) GROUP BY doc_id, u.s),
         top AS (
           SELECT doc_id, CAST(max(n) AS BIGINT) AS top_bigram_n,
             CAST(sum(n) AS BIGINT) AS n_bigrams
           FROM cnt GROUP BY doc_id)
         SELECT base.doc_id, n_tokens, n_dup,
           coalesce(top_bigram_n, 0) AS top_bigram_n,
           coalesce(n_bigrams, 0) AS n_bigrams
         FROM base LEFT JOIN top USING (doc_id)""",

    "q67_contamination" -> {
      val needles = ContaminationNeedles.map(sq).mkString("[", ", ", "]")
      s"""WITH t AS (
            SELECT doc_id, string_split(text, ' ') AS w FROM documents),
          s AS (
            SELECT doc_id,
              CASE WHEN len(w) >= 3
                   THEN [array_to_string(w[i:i+2], ' ') for i in generate_series(1, len(w) - 2)]
                   ELSE [] END AS sh
            FROM t)
          SELECT doc_id,
            CAST(len(list_intersect(list_distinct(sh), $needles)) AS INTEGER) AS n_hits
          FROM s
          WHERE len(list_intersect(list_distinct(sh), $needles)) > 0"""
    },

    // the '' prepend is the same prev-token shift the sentiment
    // oracle uses; keep iff token differs from predecessor
    "q66_dedup_consecutive" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id,
           array_to_string(
             list_transform(
               list_filter(
                 list_zip(w, list_prepend('', w[:len(w) - 1])),
                 p -> p[1] <> p[2]),
               p -> p[1]), ' ') AS clean
         FROM t""",

    // the suffix is interpolated from the SAME Scala constant the
    // query uses, so both engines normalize byte-identical input;
    // DuckDB's nfc_normalize and the JDK Normalizer implement the
    // same Unicode canonical-composition tables
    "qA4_unicode_nfc" ->
      s"""WITH t AS (
            SELECT doc_id, substr(text, 1, 24) || '$NfcSuffix' AS raw
            FROM documents)
          SELECT doc_id, nfc_normalize(raw) AS nfc,
            CAST(len(raw) AS INTEGER) AS raw_len,
            CAST(len(nfc_normalize(raw)) AS INTEGER) AS nfc_len
          FROM t""",

    // same quality milli-score, same (quality DESC, doc_id) total
    // order feeding ntile(8)
    "qA9_curriculum_bins" ->
      s"""$qualityMilliSql,
          t AS (
            SELECT q.doc_id, q.quality,
              CAST(len(string_split(d.text, ' ')) AS BIGINT) AS n_tok
            FROM q JOIN documents d USING (doc_id)),
          b AS (
            SELECT *, CAST(ntile(8) OVER (ORDER BY quality DESC, doc_id ASC)
              AS INTEGER) AS bin
            FROM t)
          SELECT bin, CAST(count(*) AS BIGINT) AS n_docs,
            max(quality) AS q_hi, min(quality) AS q_lo,
            CAST(sum(n_tok) AS BIGINT) AS n_tokens
          FROM b GROUP BY bin""",

    // same bigrams (q67's comprehension idiom), same four-ln
    // fixed-order PMI sum — parenthesized to match Spark's
    // left-associative + and -
    "qAD_pmi_collocations" ->
      """WITH t AS (
           SELECT string_split(text, ' ') AS w FROM documents),
         bgs AS (
           SELECT u.bg FROM t,
             unnest(CASE WHEN len(w) >= 2
               THEN [array_to_string(w[i:i+1], ' ')
                     for i in generate_series(1, len(w) - 1)]
               ELSE [] END) AS u(bg)),
         bgc AS (SELECT bg, CAST(count(*) AS BIGINT) AS n_ab
                 FROM bgs GROUP BY bg),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS n_big FROM bgs),
         uni AS (
           SELECT u.word, CAST(count(*) AS BIGINT) AS nw
           FROM t, unnest(t.w) AS u(word) GROUP BY u.word),
         parts AS (
           SELECT bg, n_ab,
             string_split(bg, ' ')[1] AS a, string_split(bg, ' ')[2] AS b
           FROM bgc WHERE n_ab >= 5)
         SELECT bg, n_ab, ua.nw AS n_a, ub.nw AS n_b,
           ((ln(CAST(n_ab AS DOUBLE)) + ln(CAST(n_big AS DOUBLE)))
             - ln(CAST(ua.nw AS DOUBLE))) - ln(CAST(ub.nw AS DOUBLE)) AS pmi
         FROM parts
         JOIN uni ua ON ua.word = parts.a
         JOIN uni ub ON ub.word = parts.b, tot
         ORDER BY pmi DESC, bg ASC LIMIT 20""",

    // HUGEINT margins mirror Spark's decimal(38,0); one final
    // cast-cast-divide per row
    "qBB_chi2_keyness" ->
      """WITH pres AS (
           SELECT DISTINCT lang, doc_id, u.term AS term
           FROM (SELECT lang, doc_id, string_split(text, ' ') AS w
                 FROM documents), unnest(w) AS u(term)),
         a AS (
           SELECT lang, term, CAST(count(*) AS BIGINT) AS a
           FROM pres GROUP BY lang, term),
         nl AS (
           SELECT lang, CAST(count(*) AS BIGINT) AS nl
           FROM documents GROUP BY lang),
         nt AS (
           SELECT term, CAST(count(*) AS BIGINT) AS nt
           FROM pres GROUP BY term),
         tot AS (SELECT CAST(count(*) AS BIGINT) AS nn FROM documents),
         -- HUGEINT + VARCHAR-parser doubles (sf10 catch, round 12):
         -- nn*num0^2 reaches ~6e22 at sf10 (the INT64 product
         -- overflowed at 3.07e14 * 6.1e8), and a >2^64 HUGEINT
         -- must reach DOUBLE through the correctly-rounded string
         -- parser to match Spark's decimal(38,0) cast exactly (the
         -- q108 rule). Values at certified small SFs are unchanged.
         scored AS (
           SELECT lang, term, a, nl, nt,
             CAST(CAST(CAST(nn AS HUGEINT)
                     * (CAST(a AS HUGEINT) * (nn - nl - nt + a)
                        - CAST(nl - a AS HUGEINT) * (nt - a))
                     * (CAST(a AS HUGEINT) * (nn - nl - nt + a)
                        - CAST(nl - a AS HUGEINT) * (nt - a))
                  AS VARCHAR) AS DOUBLE)
               / CAST(CAST(CAST(nl AS HUGEINT) * (nn - nl) * nt * (nn - nt)
                  AS VARCHAR) AS DOUBLE) AS chi2
           FROM a JOIN nl USING (lang) JOIN nt USING (term), tot)
         SELECT lang, term, a, nl, nt, chi2 FROM (
           SELECT *, row_number() OVER (PARTITION BY lang
             ORDER BY chi2 DESC, term ASC) AS rn
           FROM scored) t
         WHERE rn <= 5""",

    // list_filter / list_sum(list_transform) mirror the HOF lambdas;
    // exists/forall spelled as filtered-length predicates
    "qC6_array_hof" ->
      """WITH t AS (
           SELECT doc_id, string_split(text, ' ') AS w FROM documents)
         SELECT doc_id,
           CAST(len(list_filter(w, x -> strlen(x) >= 6)) AS INTEGER)
             AS n_long,
           len(list_filter(w, x -> regexp_matches(x, '[0-9]'))) > 0
             AS has_digit,
           len(list_filter(w, x -> strlen(x) > 12)) = 0 AS all_short,
           CAST(list_sum(list_transform(w, x -> strlen(x))) AS BIGINT)
             AS total_chars
         FROM t""",

    // same md5-derived bucket (60-bit positive, so % == pmod)
    "qE4_feature_hash" ->
      """WITH t AS (
           SELECT doc_id, unnest(string_split(text, ' ')) AS term
           FROM documents WHERE doc_id % 25 = 0),
         b AS (
           SELECT doc_id,
             CAST(('0x' || substr(md5(term), 1, 15)) AS BIGINT) % 64
               AS bucket
           FROM t WHERE term <> '')
         SELECT doc_id, bucket, count(*) AS cnt
         FROM b GROUP BY doc_id, bucket""",

    // same counts, same add-one integer-ppm smoothing
    "qE5_naive_bayes" ->
      """WITH tk AS (
           SELECT lang, unnest(string_split(text, ' ')) AS term
           FROM documents),
         f AS (SELECT lang, term FROM tk WHERE term <> ''),
         v AS (SELECT CAST(count(DISTINCT term) AS BIGINT) AS vocab FROM f),
         ct AS (
           SELECT lang, CAST(count(*) AS BIGINT) AS class_tot
           FROM f GROUP BY lang),
         fr AS (SELECT term FROM f GROUP BY term HAVING count(*) >= 40),
         c AS (
           SELECT lang, term, CAST(count(*) AS BIGINT) AS cnt
           FROM f WHERE term IN (SELECT term FROM fr)
           GROUP BY lang, term)
         SELECT ct.lang, fr.term,
           CAST(coalesce(c.cnt, 0) AS BIGINT) AS cnt, ct.class_tot,
           v.vocab,
           CAST((CAST(coalesce(c.cnt, 0) + 1 AS HUGEINT) * 1000000)
               // (ct.class_tot + v.vocab) AS BIGINT)
             AS p_ppm
         FROM fr CROSS JOIN ct CROSS JOIN v
         LEFT JOIN c ON c.lang = ct.lang AND c.term = fr.term""",

    // same 8-gram shingles (q37's comprehension spelling), same
    // 60-bit hash keys, same distinct document frequency and
    // per-source rollup
    "q120_ngram_novelty" ->
      """WITH t AS (
           SELECT doc_id, source, string_split(text, ' ') AS w
           FROM documents
           WHERE len(string_split(text, ' ')) >= 8),
         sh AS (
           SELECT doc_id, source,
             CAST(('0x' || substr(md5(g), 1, 15)) AS BIGINT) AS h
           FROM t, unnest([array_to_string(w[i:i+7], ' ')
             for i in generate_series(1, len(w) - 7)]) AS u(g)),
         df AS (
           SELECT h, CAST(count(DISTINCT doc_id) AS BIGINT) AS docf
           FROM sh GROUP BY h),
         g AS (
           SELECT source, CAST(count(*) AS BIGINT) AS n_shingles,
             CAST(sum(CASE WHEN docf >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_shared
           FROM sh JOIN df USING (h) GROUP BY source)
         SELECT source, n_shingles, n_shared,
           CAST(n_shared AS DOUBLE) / n_shingles AS dup_rate,
           1.0 - CAST(n_shared AS DOUBLE) / n_shingles AS novelty
         FROM g"""
  )
}
