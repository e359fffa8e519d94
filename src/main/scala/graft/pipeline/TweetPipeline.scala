package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

import graft.ops.{Aggregates, Cleanse, Pairs}
import graft.text.{EntityRuler, Sentiment}

/** The reference's full pipeline (ref demo.py:53-492), composed from
  * the engine's native operators: cleanse → enrich (NER + sentiment)
  * → four weighted monthly pivot outputs (1-D/2-D frequency and
  * sentiment), segmented by beverage category.
  *
  * Differences from the reference, by design (SURVEY.md §4):
  *  - zero Python/RDD stages — one Catalyst plan per output;
  *  - the enriched frame is persisted ONCE before the 4-way fan-out
  *    (the reference recomputed NER+sentiment 4×);
  *  - sampling is seeded (reproducible);
  *  - pivot month values are supplied explicitly (single job, no
  *    distinct-values pre-pass) when `months` is given.
  *
  * Scale: per-row ops are narrow; each output's shuffle key is its
  * grouping key; pivot emits one row per (topic[, topic2], category)
  * — the wide format stays small even at 100 TB input.
  */
object TweetPipeline {

  /** The four pipeline outputs plus `release()`, which unpersists the
    * shared enriched frame — call it once the outputs are
    * materialized, or a long-lived session (Bench/Inspect loops)
    * accumulates dead cached partitions. */
  final case class Outputs(freq1d: DataFrame, sent1d: DataFrame,
                           sent2d: DataFrame, freq2d: DataFrame,
                           release: () => Unit = () => ())

  /** Cleanse + enrich a raw tweet frame (columns: Timestamp, Text,
    * Page_URL, Comments, Likes, Retweets — all strings).
    *
    * Sampling: the default is the reference's seeded
    * `orderBy(rand(seed)).limit(n)` (ref demo.py:55,59). `hashSample`
    * switches the order key to the md5 of the full row — a pure
    * content function, so the selected multiset is independent of
    * partition layout AND expressible in any engine, which is what
    * lets the pipeline oracles stay exact at scale factors where the
    * limit actually bites (rand(seed) output depends on partition
    * index; its sample cannot be mirrored in SQL). The key is the
    * md5 of FIXED-WIDTH per-field md5 blocks (nulls as an explicit
    * '-'): no separator ambiguity, so hash-tied rows are genuinely
    * identical in every column the pipeline reads and either
    * engine's tie-break yields the same downstream result — a
    * '|'-joined concat_ws would let a Text containing '|' alias
    * with the adjacent fields (and silently skip nulls). */
  def enrich(raw: DataFrame, matcher: EntityRuler.Matcher,
             seed: Long = 42L, sampleN: Int = 500,
             hashSample: Boolean = false): DataFrame = {
    val ner = EntityRuler.nerColumn(matcher) _
    def blk(c: String) = coalesce(md5(col(c)), lit("-"))
    val sampleKey =
      if (hashSample) md5(concat(blk("Timestamp"), blk("Text"),
        blk("Page_URL"), blk("Comments"), blk("Likes"), blk("Retweets")))
      else rand(seed)
    raw
      .filter(col("Timestamp").isNotNull)                       // ref demo.py:58
      .orderBy(sampleKey)                                        // ref demo.py:55 (seeded)
      .limit(sampleN)                                            // ref demo.py:59
      .withColumn("TweetDate", Cleanse.parseTweetDate(col("Timestamp")))
      .filter(col("TweetDate").isNotNull)                        // ref demo.py:70
      .withColumn("Year", year(col("TweetDate")))
      .withColumn("Month", month(col("TweetDate")))
      .na.fill("0", Seq("Comments", "Likes", "Retweets"))        // ref demo.py:77
      .withColumn("Comments_log", Cleanse.logBucket(Cleanse.parseKmNumber(col("Comments"))))
      .withColumn("Likes_log", Cleanse.logBucket(Cleanse.parseKmNumber(col("Likes"))))
      .withColumn("Retweets_log", Cleanse.logBucket(Cleanse.parseKmNumber(col("Retweets"))))
      .filter(col("Page_URL").isNotNull)                         // ref demo.py:108
      .transform(once("Keyword", Cleanse.keywordText(col("Page_URL"))))
      .filter(col("Keyword") =!= "")                             // ref demo.py:110
      .withColumn("Category2", Cleanse.categoryFor(col("Keyword")))
      .transform(once("All_phrases", ner(col("Text"))))
      .filter(col("All_phrases").isNotNull)                      // ref demo.py:143
      .withColumn("CheckEmpty", Cleanse.checkEmpty(col("All_phrases")))
      .filter(col("CheckEmpty") =!= 1)                           // ref demo.py:157 (intended)
      .withColumn("Sentiment", Sentiment.sentimentColumnNative(col("Text")).cast("float"))
  }

  /** Appends `c` as column `name`, evaluated once per row. A plain
    * `withColumn` is a projection alias, which the optimizer copies
    * into every filter it pushes below that projection, evaluating
    * the expression once per copy (NER's null and empty filters made
    * three). A one-element explode is a Generate, whose output no
    * filter can be pushed beneath and no consumer can inline; it
    * yields exactly one row per input row, null included. */
  private def once(name: String, c: Column)(df: DataFrame): DataFrame =
    df.select(col("*"), explode(array(c)).as(name))

  private val keys = Seq("Year", "Month", "Category2")

  private def monthTag(prefix: String) =
    concat(lit(prefix), col("Year"), lit("-"), col("Month"))

  private def pivotOut(df: DataFrame, prefix: String, groupCols: Seq[String],
                       valueCol: String, months: Seq[String]): DataFrame = {
    val tagged = df.withColumn("MonthTag", monthTag(prefix))
    // lexicographic column order, matching the reference's golden
    // headers (Spark sorts discovered pivot values; we sort pinned
    // ones the same way)
    val vals = (
      if (months.nonEmpty) months.map(prefix + _)
      else tagged.select("MonthTag").distinct()
        .collect().map(_.getString(0)).toSeq
      ).sorted
    val piv = Aggregates.monthPivot(tagged, groupCols, "MonthTag", vals, valueCol)
      .withColumn("Category1", lit("Beverage"))                  // ref demo.py:232
    // defensive empty-sentinel guards on every topic column
    // (ref demo.py:233, 323, 428-429, 490-491)
    groupCols.filter(_.startsWith("Topic"))
      .foldLeft(piv)((d, c) => d.filter(col(c) =!= "empty"))
  }

  /** Run the full pipeline. `months` (as "YYYY-M" strings) pins the
    * pivot columns — THE PRODUCTION PATH: the whole pipeline becomes
    * one lazily-planned Catalyst job per output with no driver-side
    * pre-pass (TweetPipelineSpec asserts construction submits zero
    * jobs), which is what q70/q71/q7F/q80 run. Leaving `months` empty
    * is the convenience path for exploratory use: pivot values are
    * discovered from the data via a driver collect of the distinct
    * month tags (bounded by #months; the same two-job shape as
    * Spark's own un-argumented pivot). `persist` caches the enriched
    * frame across the 4-way fan-out (release via [[Outputs.release]]);
    * pass false when only one output will be consumed — the cache
    * would be pure overhead. */
  def run(raw: DataFrame, matcher: EntityRuler.Matcher, seed: Long = 42L,
          sampleN: Int = 500, months: Seq[String] = Seq.empty,
          persist: Boolean = true, hashSample: Boolean = false): Outputs = {
    val enriched0 = enrich(raw, matcher, seed, sampleN, hashSample)
    val enriched =
      if (persist) enriched0.persist(StorageLevel.MEMORY_AND_DISK) else enriched0

    val exploded = enriched.select(col("Year"), col("Month"), col("Category2"),
      explode(col("All_phrases")).as("Topic"),
      col("Retweets_log"), col("Likes_log"), col("Sentiment"))

    val paired = Pairs.explodePairs(
      enriched.select(col("Year"), col("Month"), col("Category2"),
        col("All_phrases"), col("Retweets_log"), col("Likes_log"), col("Sentiment")),
      "All_phrases", "Topic", "Topic2")

    val freq1d = pivotOut(
      Aggregates.weightedFreq1D(exploded, keys, "Topic", "Retweets_log"),
      "Frequency_", Seq("Topic", "Category2"), "frequency", months)

    val sent1d = pivotOut(
      Aggregates.weightedSentiment1D(exploded, keys, "Topic", "Sentiment", "Likes_log")
        .withColumn("sentiment", col("sentiment").cast("float")), // ref FloatType truncation
      "Sentiment_", Seq("Topic", "Category2"), "sentiment", months)

    val sent2d = pivotOut(
      Aggregates.weightedSentiment2D(paired, keys, "Topic", "Topic2", "Sentiment", "Likes_log")
        .withColumn("sentiment", col("sentiment").cast("float")),
      "Sentiment_", Seq("Category2", "Topic", "Topic2"), "sentiment", months)

    val freq2d = pivotOut(
      Aggregates.weightedFreq2D(paired, keys, "Topic", "Topic2", "Retweets_log"),
      "Frequency_", Seq("Topic", "Topic2", "Category2"), "frequency", months)

    Outputs(freq1d, sent1d, sent2d, freq2d,
      release = () => if (persist) { enriched.unpersist(); () })
  }
}
