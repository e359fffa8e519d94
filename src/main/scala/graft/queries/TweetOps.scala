package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources.table
import graft.ops.{Aggregates, Cleanse, Pairs}

/** The reference pipeline's operator surface (SURVEY.md §2.4 A2–A5,
  * §2.6 U1–U5/U7, §2.7 G1) exercised over the driver's test tables.
  * The reference's tweet CSVs are missing blobs, so each query
  * synthesizes its input shape deterministically from existing
  * columns (identical arithmetic/string building on both engines),
  * applies OUR operator, and the DuckDB oracle recomputes the
  * expected result independently.
  *
  * Everything here is native Column expressions — zero UDFs — so the
  * whole chain stays in whole-stage codegen and Catalyst pushes
  * projections into the parquet scans.
  */
object TweetOps extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // U2 transformNumber: K/M-suffixed social-count strings → int.
    // Input strings built from integer columns only (no float
    // formatting divergence); pk%4==3 rows are garbage → 0.
    "q20_clean_numbers" -> ((s, dir) => {
      table(s, dir, "part")
        .withColumn("raw",
          when(pmod(col("p_partkey"), lit(4)) === 0, col("p_partkey").cast("string"))
            .when(pmod(col("p_partkey"), lit(4)) === 1,
              concat(pmod(col("p_partkey"), lit(90)).cast("string"), lit("."),
                pmod(col("p_partkey"), lit(10)).cast("string"), lit("K")))
            .when(pmod(col("p_partkey"), lit(4)) === 2,
              concat(pmod(col("p_partkey"), lit(9)).cast("string"), lit("M")))
            .otherwise(concat(lit("n/a-"), col("p_partkey").cast("string"))))
        .select(col("p_partkey"), col("raw"),
          Cleanse.parseKmNumber(col("raw")).as("parsed"))
    }),

    // U1 timeStampPreCleaning + to_date: long "MMM dd, yyyy" forms
    // lose the comma; short "MMM dd" forms get implied year 2020.
    "q21_clean_timestamp" -> ((s, dir) => {
      table(s, dir, "orders")
        .withColumn("raw",
          when(pmod(col("o_orderkey"), lit(2)) === 0,
            date_format(col("o_orderdate"), "MMM dd, yyyy"))
            .otherwise(date_format(col("o_orderdate"), "MMM dd")))
        .select(col("o_orderkey"),
          Cleanse.parseTweetDate(col("raw")).as("parsed_date"))
    }),

    // U3 logNormal: log2 engagement bucketing.
    "q22_log_bucket" -> ((s, dir) => {
      table(s, dir, "lineitem")
        .select(col("l_orderkey"), col("l_linenumber"),
          Cleanse.logBucket(col("l_quantity")).as("bucket"))
        .groupBy("bucket").agg(count(lit(1)).as("n"))
    }),

    // U4 extractkeyword: scrape keyword out of a Twitter search URL;
    // pk%10==9 rows get a URL without a q= param → null keyword.
    "q23_keyword_extract" -> ((s, dir) => {
      table(s, dir, "part")
        .withColumn("url",
          when(pmod(col("p_partkey"), lit(10)) === 9,
            lit("https://twitter.com/search?f=live&vertical=default"))
            .otherwise(concat(
              lit("https://twitter.com/search?q="),
              regexp_replace(lower(col("p_type")), " ", "%20"),
              lit("%20lang%3Aen%20until%3A2020-01-01"))))
        .select(col("p_partkey"),
          Cleanse.extractKeyword(col("url")).as("keyword"))
    }),

    // U5 getCategory2 as a broadcast join against the 7-row
    // keyword→category dim (SURVEY.md §2.3: the idiomatic join form).
    "q24_category_join" -> ((s, dir) => {
      val kws = array(Cleanse.categoryTable.map(t => lit(t._1)) :+ lit("water"): _*)
      val c = table(s, dir, "customer")
        .withColumn("keyword", element_at(kws, (pmod(col("c_custkey"), lit(8)) + 1).cast("int")))
      c.join(broadcast(Cleanse.categoryDim(c.sparkSession)), Seq("keyword"), "left")
        .na.fill("unknown", Seq("category2"))
        .groupBy("category2").agg(count(lit(1)).as("n"))
    }),

    // A2 weighted 1-D topic frequency: explode distinct tokens,
    // Σ(retweets_log + 1) per (lang, topic).
    "q25_weighted_freq_1d" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("topic", explode(array_distinct(split(col("text"), " "))))
        .withColumn("r", Cleanse.logBucket(col("n_chars")))
      Aggregates.weightedFreq1D(d, Seq("lang"), "topic", "r")
    }),

    // A3 weighted 1-D sentiment: Σ s·(l+1) / (Σ l + 1) per (lang,
    // topic); s and l synthesized deterministically per doc.
    "q26_weighted_sentiment_1d" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("topic", explode(array_distinct(split(col("text"), " "))))
        .withColumn("sent", pmod(col("n_chars"), lit(100)) - 50)
        .withColumn("l", Cleanse.logBucket(pmod(col("n_chars"), lit(37))))
      // integer-scaled sentiment (s/50 deferred): the aggregate sums are
      // exact integers, so the two final divisions are bit-identical
      // across engines — no rounding needed.
      Aggregates.weightedSentiment1D(d, Seq("lang"), "topic", "sent", "l")
        .withColumn("sentiment", col("sentiment") / 50.0)
    }),

    // G1 + A5 weighted 2-D pair frequency: ordered 2-combinations of
    // the (sorted, capped) distinct token list; 1 + Σ r per pair.
    "q27_pairs_freq_2d" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("phrases",
          slice(array_sort(array_distinct(split(col("text"), " "))), 1, 12))
        .withColumn("r", Cleanse.logBucket(col("n_chars")))
        .select("lang", "phrases", "r")
      val pairs = Pairs.explodePairs(d, "phrases")
      Aggregates.weightedFreq2D(pairs, Seq("lang"), "t1", "t2", "r")
    }),

    // G1 + A4 weighted 2-D pair sentiment.
    "q28_pairs_sentiment_2d" -> ((s, dir) => {
      val d = table(s, dir, "documents")
        .withColumn("phrases",
          slice(array_sort(array_distinct(split(col("text"), " "))), 1, 12))
        .withColumn("sent", pmod(col("n_chars"), lit(100)) - 50)
        .withColumn("l", Cleanse.logBucket(pmod(col("n_chars"), lit(37))))
        .select("lang", "phrases", "sent", "l")
      val pairs = Pairs.explodePairs(d, "phrases")
      Aggregates.weightedSentiment2D(pairs, Seq("lang"), "t1", "t2", "sent", "l")
        .withColumn("sentiment", col("sentiment") / 50.0)
    }),

    // U6-sentinel + U7 + F-NEQ: dictionary intersection with the
    // ["empty"] sentinel for no-match docs, CheckEmpty flag, then the
    // reference's != 1 filter (ref demo.py:145-157).
    "q29_empty_sentinel" -> ((s, dir) => {
      val dict = array(lit("vector"), lit("hash"), lit("stream"))
      val d = table(s, dir, "documents")
        .withColumn("matched",
          array_intersect(array_sort(array_distinct(split(col("text"), " "))), dict))
        .withColumn("all_phrases",
          when(size(col("matched")) === 0, array(lit("empty")))
            .otherwise(col("matched")))
        .withColumn("check_empty", Cleanse.checkEmpty(col("all_phrases")))
      d.filter(col("check_empty") =!= 1)
        .select(col("doc_id"), concat_ws(",", col("all_phrases")).as("topics"))
    })
  )

  def oracles: Map[String, String] = Map(
    "q20_clean_numbers" ->
      """WITH t AS (
           SELECT p_partkey,
             CASE WHEN p_partkey % 4 = 0 THEN CAST(p_partkey AS VARCHAR)
                  WHEN p_partkey % 4 = 1 THEN CAST(p_partkey % 90 AS VARCHAR) || '.' || CAST(p_partkey % 10 AS VARCHAR) || 'K'
                  WHEN p_partkey % 4 = 2 THEN CAST(p_partkey % 9 AS VARCHAR) || 'M'
                  ELSE 'n/a-' || CAST(p_partkey AS VARCHAR) END AS raw
           FROM part)
         SELECT p_partkey, raw,
           CAST(COALESCE(
             CASE WHEN raw LIKE '%K' THEN CAST(trunc(TRY_CAST(replace(raw, 'K', '') AS DOUBLE) * 1000) AS BIGINT)
                  WHEN raw LIKE '%M' THEN CAST(trunc(TRY_CAST(replace(raw, 'M', '') AS DOUBLE) * 1000000) AS BIGINT)
                  ELSE CAST(trunc(TRY_CAST(raw AS DOUBLE)) AS BIGINT) END,
             0) AS INT) AS parsed
         FROM t""",

    "q21_clean_timestamp" ->
      """SELECT o_orderkey,
           CASE WHEN o_orderkey % 2 = 0 THEN CAST(o_orderdate AS DATE)
                ELSE make_date(2020, CAST(month(o_orderdate) AS INT), CAST(day(o_orderdate) AS INT)) END
           AS parsed_date
         FROM orders""",

    "q22_log_bucket" ->
      """SELECT CAST(round(log2(l_quantity + 1)) AS INT) + 1 AS bucket,
           count(*) AS n
         FROM lineitem GROUP BY 1""",

    "q23_keyword_extract" ->
      """SELECT p_partkey,
           CASE WHEN p_partkey % 10 = 9 THEN NULL ELSE lower(p_type) END AS keyword
         FROM part""",

    "q24_category_join" ->
      """SELECT CASE
           WHEN kw IN ('fizzy drink', 'soda', 'sparkling water') THEN 'soda'
           WHEN kw = 'tonic' THEN 'tonic'
           WHEN kw IN ('ginger ale', 'coke', 'pop') THEN 'ginger ale'
           ELSE 'unknown' END AS category2,
           count(*) AS n
         FROM (SELECT (['fizzy drink','soda','sparkling water','tonic',
                        'ginger ale','coke','pop','water'])[(c_custkey % 8) + 1] AS kw
               FROM customer)
         GROUP BY 1""",

    "q25_weighted_freq_1d" ->
      """SELECT lang, u.topic AS topic,
           CAST(sum(CAST(round(log2(n_chars + 1)) AS INT) + 1 + 1) AS BIGINT) AS frequency
         FROM documents, unnest(list_distinct(string_split(text, ' '))) AS u(topic)
         GROUP BY lang, u.topic""",

    "q26_weighted_sentiment_1d" ->
      """WITH t AS (
           SELECT lang, u.topic AS topic,
             (n_chars % 100) - 50 AS sent,
             CAST(round(log2((n_chars % 37) + 1)) AS INT) + 1 AS l
           FROM documents, unnest(list_distinct(string_split(text, ' '))) AS u(topic))
         SELECT lang, topic,
           (CAST(sum(sent * (l + 1)) AS DOUBLE) / (sum(l) + 1)) / 50.0 AS sentiment
         FROM t GROUP BY lang, topic""",

    "q27_pairs_freq_2d" ->
      """WITH d AS (
           SELECT lang,
             list_sort(list_distinct(string_split(text, ' ')))[1:12] AS w,
             CAST(round(log2(n_chars + 1)) AS INT) + 1 AS r
           FROM documents)
         SELECT lang, w[i] AS t1, w[j] AS t2, CAST(1 + sum(r) AS BIGINT) AS frequency
         FROM d, generate_series(1, 12) g1(i), generate_series(1, 12) g2(j)
         WHERE i < j AND j <= len(w)
         GROUP BY lang, w[i], w[j]""",

    "q28_pairs_sentiment_2d" ->
      """WITH d AS (
           SELECT lang,
             list_sort(list_distinct(string_split(text, ' ')))[1:12] AS w,
             (n_chars % 100) - 50 AS sent,
             CAST(round(log2((n_chars % 37) + 1)) AS INT) + 1 AS l
           FROM documents)
         SELECT lang, w[i] AS t1, w[j] AS t2,
           (CAST(sum(sent * (l + 1)) AS DOUBLE) / (sum(l) + 1)) / 50.0 AS sentiment
         FROM d, generate_series(1, 12) g1(i), generate_series(1, 12) g2(j)
         WHERE i < j AND j <= len(w)
         GROUP BY lang, w[i], w[j]""",

    "q29_empty_sentinel" ->
      """WITH d AS (
           SELECT doc_id,
             list_filter(list_sort(list_distinct(string_split(text, ' '))),
                         x -> x IN ('vector', 'hash', 'stream')) AS matched
           FROM documents)
         SELECT doc_id, array_to_string(matched, ',') AS topics
         FROM d WHERE len(matched) > 0"""
  )
}
