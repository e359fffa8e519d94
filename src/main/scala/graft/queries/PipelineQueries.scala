package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources.table
import graft.pipeline.TweetPipeline

/** The full reference pipeline run end-to-end through the driver
  * surface, over a tweet-shaped frame synthesized deterministically
  * from `documents`. Hash-checked against a DuckDB mirror of the
  * whole pipeline (NER recursive-CTE walk + tokenized sentiment +
  * cleanse arithmetic + weighted pivot aggregates); the composition
  * is additionally pinned by TweetPipelineSpec.
  *
  * Oracle determinism notes:
  *  - the sample runs in [[TweetPipeline.enrich]]'s `hashSample`
  *    mode: order by md5 of the full row, a pure content function
  *    both engines compute identically, so the selected 500-row
  *    multiset is EXACT at every scale factor — including those
  *    where the limit actually bites (sf0.1 has 5,000 documents; the
  *    reference's rand(seed) key depends on partition layout and
  *    cannot be mirrored in SQL — that path keeps its spec coverage
  *    in TweetPipelineSpec). Hash ties are identical rows in every
  *    pipeline-read column (URL pins doc_id mod 7, the engagement
  *    mods pin r_log/l_log/month), so tie-break order cannot change
  *    any output;
  *  - q71's float path is bit-stable: sentiment is float32 with
  *    magnitude ≥ ~1e-3 on this corpus, the Σ s·(l+1) addends carry
  *    ≤ 28 mantissa bits over a ≤ 13-bit exponent spread, so every
  *    double partial sum is EXACT (order-independent) — verified
  *    hash-green, not just assumed. */
object PipelineQueries extends QueryModule {

  /** documents → (Timestamp, Text, Page_URL, Comments, Likes,
    * Retweets) with derived dates/keywords/engagement counts. */
  def tweetFrame(s: SparkSession, dir: String): DataFrame = {
    val kws = array(graft.ops.Cleanse.categoryTable.map(t => lit(t._1)): _*)
    table(s, dir, "documents")
      .withColumn("TweetDate",
        make_date(lit(2019), pmod(col("n_chars"), lit(12)) + 1,
          pmod(col("n_chars"), lit(27)) + 1))
      .select(
        date_format(col("TweetDate"), "MMM dd, yyyy").as("Timestamp"),
        col("text").as("Text"),
        concat(lit("https://twitter.com/search?q="),
          regexp_replace(element_at(kws, (pmod(col("doc_id"), lit(7)) + 1).cast("int")), " ", "%20"),
          lit("%20lang%3Aen%20until%3A2020-01-01")).as("Page_URL"),
        (pmod(col("n_chars"), lit(5))).cast("string").as("Comments"),
        concat(pmod(col("n_chars"), lit(9)).cast("string"), lit("K")).as("Likes"),
        pmod(col("n_chars"), lit(200)).cast("string").as("Retweets"))
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // persist = false: each driver query consumes ONE of the four
    // outputs, so the fan-out cache would be overhead that never pays
    // off (and a long-lived session would leak it — the result is
    // returned lazily, so release() could never be called in time)
    "q70_tweet_pipeline_freq" -> ((s, dir) => pipelineRun(s, dir).freq1d),
    "q71_tweet_pipeline_sent2d" -> ((s, dir) => pipelineRun(s, dir).sent2d),
    "q7F_tweet_pipeline_sent1d" -> ((s, dir) => pipelineRun(s, dir).sent1d),
    "q80_tweet_pipeline_freq2d" -> ((s, dir) => pipelineRun(s, dir).freq2d)
  )

  private def pipelineRun(s: SparkSession, dir: String): TweetPipeline.Outputs = {
    val m = new graft.text.EntityRuler.Matcher(TextQueries.demoPatterns)
    TweetPipeline.run(tweetFrame(s, dir), m, seed = 42L, sampleN = 500,
      months = (1 to 12).map(m => s"2019-$m"), persist = false,
      hashSample = true)
  }

  /** Shared pipeline-enrichment CTE fragment: NER phrases (via
    * [[TextQueries.nerWalkSql]]) + tokenized sentiment + the cleanse
    * derivations of [[tweetFrame]] folded to their closed forms
    * (the Timestamp/Page_URL/K-suffix round-trips invert exactly;
    * every keyword maps to a category, so the null filters drop
    * nothing on this frame). */
  private lazy val enrSql: String = {
    val pol = TextQueries.lexiconCaseSql("lower(p[1])")
    val mod = TextQueries.modifierCaseSql("lower(p[2])", "lower(p[3])")
    val catArms = graft.ops.Cleanse.categoryTable.zipWithIndex
      .map { case ((_, cat), i) => s"WHEN $i THEN ${TextQueries.sq(cat)}" }
      .mkString(" ")
    val kwArms = graft.ops.Cleanse.categoryTable.zipWithIndex
      .map { case ((kw, _), i) => s"WHEN $i THEN ${TextQueries.sq(kw)}" }
      .mkString(" ")
    // Mirror of [[TweetPipeline.enrich]]'s hashSample: rebuild the six
    // tweet-frame strings from documents (the round-trips in
    // [[tweetFrame]] are exact), md5 the same fixed-width per-field
    // md5 blocks (nulls as '-'; no separator ambiguity), take the
    // 500 smallest.
    s"""samp AS MATERIALIZED (
          SELECT doc_id, text, n_chars FROM (
            SELECT doc_id, text, n_chars,
              md5(coalesce(md5(
                strftime(make_date(2019, CAST(n_chars % 12 AS INT) + 1,
                                   CAST(n_chars % 27 AS INT) + 1), '%b %d, %Y')), '-')
                || coalesce(md5(text), '-')
                || coalesce(md5(
                'https://twitter.com/search?q=' ||
                  replace(CASE CAST(doc_id % 7 AS INT) $kwArms END, ' ', '%20') ||
                  '%20lang%3Aen%20until%3A2020-01-01'), '-')
                || coalesce(md5(CAST(CAST(n_chars % 5 AS INT) AS VARCHAR)), '-')
                || coalesce(md5(
                CAST(CAST(n_chars % 9 AS INT) AS VARCHAR) || 'K'), '-')
                || coalesce(md5(
                CAST(CAST(n_chars % 200 AS INT) AS VARCHAR)), '-')) AS h
            FROM documents)
          ORDER BY h LIMIT 500),
        ${TextQueries.nerWalkSqlFrom("samp")},
        sent AS (
          SELECT doc_id,
            CASE WHEN len(a) = 0 THEN 0.0
                 ELSE (CAST(list_sum(a) AS DOUBLE) / len(a)) / 1000000.0 END AS sentiment
          FROM (
            SELECT doc_id,
              list_filter(list_transform(
                list_zip(w, list_prepend('', w[:len(w) - 1]),
                         list_prepend('', list_prepend('', w[:greatest(len(w) - 2, 0)]))),
                p -> CAST(($pol) AS BIGINT) * ($mod)), x -> x IS NOT NULL) AS a
            FROM doc)),
        enr AS (
          SELECT p.doc_id,
            2019 AS yr,
            CAST(d.n_chars % 12 + 1 AS INT) AS mo,
            CASE CAST(d.doc_id % 7 AS INT) $catArms END AS cat,
            p.phrases,
            CAST(round(log2((d.n_chars % 200) + 1)) AS INT) + 1 AS r_log,
            CAST(round(log2((d.n_chars % 9) * 1000 + 1)) AS INT) + 1 AS l_log,
            CAST(s.sentiment AS REAL) AS sent
          FROM phrases p
          JOIN samp d USING (doc_id)
          JOIN sent s ON s.doc_id = p.doc_id
          WHERE NOT (len(p.phrases) = 1 AND p.phrases[1] = 'empty'))"""
  }

  private val months: Seq[String] = (1 to 12).map(m => s"2019-$m").sorted

  def oracles: Map[String, String] = Map(
    "q70_tweet_pipeline_freq" -> {
      val cells = months.map(m =>
        s"""CAST(coalesce(max(CASE WHEN tag = 'Frequency_$m' THEN f END), 0) AS BIGINT) AS "Frequency_$m"""")
        .mkString(",\n          ")
      s"""WITH RECURSIVE $enrSql,
          exploded AS (
            SELECT yr, mo, cat, u.topic AS topic, r_log
            FROM enr, unnest(phrases) AS u(topic)),
          agg AS (
            SELECT 'Frequency_' || yr || '-' || mo AS tag, cat, topic,
              CAST(sum(r_log + 1) AS BIGINT) AS f
            FROM exploded GROUP BY yr, mo, cat, topic)
          SELECT topic AS "Topic", cat AS "Category2",
          $cells,
          'Beverage' AS "Category1"
          FROM agg GROUP BY topic, cat"""
    },
    "q71_tweet_pipeline_sent2d" -> {
      val cells = months.map(m =>
        s"""CAST(coalesce(max(CASE WHEN tag = 'Sentiment_$m' THEN v END), 0) AS REAL) AS "Sentiment_$m"""")
        .mkString(",\n          ")
      // Spark evaluates Sentiment(float32) * (Likes_log+1) in DOUBLE
      // (no float32 re-rounding of the product) — mirror exactly.
      s"""WITH RECURSIVE $enrSql,
          paired AS (
            -- the constant series bound (DuckDB 1.0 forbids subquery
            -- bounds on generate_series) must cover every phrase
            -- list: overflow would SILENTLY drop pairs Spark keeps,
            -- so it fails loudly instead
            SELECT yr, mo, cat,
              CASE WHEN len(phrases) > 40
                   THEN error('phrase list exceeds pair-generator bound 40')
                   ELSE phrases[i] END AS t1,
              phrases[j] AS t2, l_log, sent
            FROM enr, generate_series(1, 40) g1(i), generate_series(1, 40) g2(j)
            WHERE i < j AND j <= len(phrases)),
          agg AS (
            SELECT 'Sentiment_' || yr || '-' || mo AS tag, cat, t1, t2,
              CAST((sum(CAST(sent AS DOUBLE) * (l_log + 1)) / (sum(l_log) + 1)) AS REAL) AS v
            FROM paired GROUP BY yr, mo, cat, t1, t2)
          SELECT cat AS "Category2", t1 AS "Topic", t2 AS "Topic2",
          $cells,
          'Beverage' AS "Category1"
          FROM agg GROUP BY cat, t1, t2"""
    },
    // sent1d: q71's weighted-sentiment construction, 1-D over single
    // topics (unnest instead of the i<j pair generator) — the
    // reference's Sentiments_monthly output (ref demo.py:324).
    "q7F_tweet_pipeline_sent1d" -> {
      val cells = months.map(m =>
        s"""CAST(coalesce(max(CASE WHEN tag = 'Sentiment_$m' THEN v END), 0) AS REAL) AS "Sentiment_$m"""")
        .mkString(",\n          ")
      s"""WITH RECURSIVE $enrSql,
          exploded AS (
            SELECT yr, mo, cat, u.topic AS topic, l_log, sent
            FROM enr, unnest(phrases) AS u(topic)),
          agg AS (
            SELECT 'Sentiment_' || yr || '-' || mo AS tag, cat, topic,
              CAST((sum(CAST(sent AS DOUBLE) * (l_log + 1)) / (sum(l_log) + 1)) AS REAL) AS v
            FROM exploded GROUP BY yr, mo, cat, topic)
          SELECT topic AS "Topic", cat AS "Category2",
          $cells,
          'Beverage' AS "Category1"
          FROM agg GROUP BY topic, cat"""
    },
    // freq2d: q70's frequency pivot over the i<j topic pairs, with
    // the A5 weight 1+Σr (NOT Σ(r+1) — ref demo.py:436-442) — the
    // reference's Frequency_2d_monthly output (ref demo.py:492).
    "q80_tweet_pipeline_freq2d" -> {
      val cells = months.map(m =>
        s"""CAST(coalesce(max(CASE WHEN tag = 'Frequency_$m' THEN f END), 0) AS BIGINT) AS "Frequency_$m"""")
        .mkString(",\n          ")
      s"""WITH RECURSIVE $enrSql,
          paired AS (
            -- same loud overflow guard as q71's pair generator
            SELECT yr, mo, cat,
              CASE WHEN len(phrases) > 40
                   THEN error('phrase list exceeds pair-generator bound 40')
                   ELSE phrases[i] END AS t1,
              phrases[j] AS t2, r_log
            FROM enr, generate_series(1, 40) g1(i), generate_series(1, 40) g2(j)
            WHERE i < j AND j <= len(phrases)),
          agg AS (
            SELECT 'Frequency_' || yr || '-' || mo AS tag, cat, t1, t2,
              CAST(1 + sum(r_log) AS BIGINT) AS f
            FROM paired GROUP BY yr, mo, cat, t1, t2)
          SELECT t1 AS "Topic", t2 AS "Topic2", cat AS "Category2",
          $cells,
          'Beverage' AS "Category1"
          FROM agg GROUP BY t1, t2, cat"""
    }
  )
}
