package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType
import org.apache.spark.storage.StorageLevel

import graft.functions.{NerExtract, SentimentScore}
import graft.ops.{Aggregates, Cleanse, Pairs}
import graft.text.{EntityRuler, Tokenizer}

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
  * Plan size: building a Dataset re-analyzes the whole plan under it,
  * and a stage's generated source grows with its expression trees.
  * So enrich is a few `select` + `filter` steps rather than one step
  * per column, U2 is one expression, and each output aggregates its
  * own weight inside the pivot (one aggregate, not a weighted sum
  * under a `max` level).
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
    * with the adjacent fields (and silently skip nulls).
    *
    * After the sample, five projections: the date and the count-column
    * fills; Year/Month, the three log buckets and the keyword; the
    * category and the Text's `Tokens`, which NER and sentiment read and
    * the output drops; the NER phrases; CheckEmpty and Sentiment.
    * Filters between them fold the reference's. Output columns: the
    * input's, then TweetDate, Year, Month, Comments_log, Likes_log,
    * Retweets_log, Keyword, Category2, All_phrases, CheckEmpty, Sentiment. */
  def enrich(raw: DataFrame, matcher: EntityRuler.Matcher,
             seed: Long = 42L, sampleN: Int = 500,
             hashSample: Boolean = false): DataFrame = {
    def blk(c: String) = coalesce(md5(col(c)), lit("-"))
    val sampleKey =
      if (hashSample) md5(concat(blk("Timestamp"), blk("Text"),
        blk("Page_URL"), blk("Comments"), blk("Likes"), blk("Retweets")))
      else rand(seed)
    // ref demo.py:77: na.fill("0") of the count columns, string-typed only
    val counts = Set("Comments", "Likes", "Retweets")
    val filled = raw.schema.fields.toSeq.map { f =>
      if (!counts(f.name) || !f.dataType.isInstanceOf[StringType]) col(f.name)
      else coalesce(col(f.name), lit("0")).as(f.name)
    }
    def logOf(c: String) = Cleanse.logBucket(Cleanse.parseKmNumber(col(c))).as(s"${c}_log")
    // The keyword regex, the tokens and NER are one-element explodes: a
    // Generate, whose output no filter can be pushed beneath and no
    // consumer can inline, so each runs once per row. A projected alias
    // would be copied into every filter pushed below it (NER's null and
    // empty filters made three copies).
    raw
      .filter(col("Timestamp").isNotNull)                        // ref demo.py:58
      .orderBy(sampleKey)                                        // ref demo.py:55 (seeded)
      .limit(sampleN)                                            // ref demo.py:59
      .select(filled :+ Cleanse.parseTweetDate(col("Timestamp")).as("TweetDate"): _*)
      .filter(col("TweetDate").isNotNull &&                      // ref demo.py:70
        col("Page_URL").isNotNull)                               // ref demo.py:108
      .select(col("*"), year(col("TweetDate")).as("Year"), month(col("TweetDate")).as("Month"),
        logOf("Comments"), logOf("Likes"), logOf("Retweets"),
        explode(array(Cleanse.keywordText(col("Page_URL")))).as("Keyword"))
      .filter(col("Keyword") =!= "")                             // ref demo.py:110
      .select(col("*"), Cleanse.categoryFor(col("Keyword")).as("Category2"),
        explode(array(Tokenizer.tokenizeColumn(col("Text")))).as("Tokens"))
      .select(col("*"), explode(array(NerExtract(col("Tokens"), matcher))).as("All_phrases"))
      .filter(col("All_phrases").isNotNull &&                    // ref demo.py:143
        Cleanse.checkEmpty(col("All_phrases")) =!= 1)            // ref demo.py:157 (intended)
      .select(col("*"), Cleanse.checkEmpty(col("All_phrases")).as("CheckEmpty"),
        SentimentScore(col("Tokens")).cast("float").as("Sentiment"))
      .drop("Tokens")
  }

  private def monthTag(prefix: String) =
    concat(lit(prefix), col("Year"), lit("-"), col("Month"))

  /** One output: `weighted` aggregated per (groupCols, month) and
    * pivoted on the month tag in one aggregate. The tag is a
    * one-to-one function of (Year, Month), so grouping by it is
    * grouping by the month. */
  private def pivotOut(df: DataFrame, prefix: String, groupCols: Seq[String],
                       weighted: Column, months: Seq[String]): DataFrame = {
    // lexicographic column order, matching the reference's golden
    // headers (Spark sorts discovered pivot values; we sort pinned
    // ones the same way)
    val piv = Aggregates.pivotFilled(df, groupCols, monthTag(prefix),
      months.map(prefix + _).sorted, weighted)
    // defensive empty-sentinel guards on every topic column
    // (ref demo.py:232-233, 323, 428-429, 490-491)
    val notEmpty = groupCols.filter(_.startsWith("Topic")).map(c => col(c) =!= "empty")
    piv.select(col("*"), lit("Beverage").as("Category1")).filter(notEmpty.reduce(_ && _))
  }

  /** Run the full pipeline. `months` (as "YYYY-M" strings) pins the
    * pivot columns — THE PRODUCTION PATH: the whole pipeline becomes
    * one lazily-planned Catalyst job per output with no driver-side
    * pre-pass (TweetPipelineSpec asserts construction submits zero
    * jobs), which is what q70/q71/q7F/q80 run. Leaving `months` empty
    * is the convenience path for exploratory use: Spark's own
    * un-argumented pivot discovers the month tags from the data (a
    * distinct job per output, bounded by #months; sorted as above).
    * `persist` caches the enriched frame across the 4-way fan-out
    * (release via [[Outputs.release]]);
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

    val freq = Aggregates.freq1DWeight(col("Retweets_log"))
    // ref FloatType truncation, inside the aggregate so the pivot keeps
    // its two-step (PivotFirst) plan
    val sent = Aggregates.sentimentWeight(col("Sentiment"), col("Likes_log")).cast("float")

    val freq1d = pivotOut(exploded, "Frequency_", Seq("Topic", "Category2"), freq, months)
    val sent1d = pivotOut(exploded, "Sentiment_", Seq("Topic", "Category2"), sent, months)
    val sent2d = pivotOut(paired, "Sentiment_", Seq("Category2", "Topic", "Topic2"), sent, months)
    val freq2d = pivotOut(paired, "Frequency_", Seq("Topic", "Topic2", "Category2"),
      Aggregates.freq2DWeight(col("Retweets_log")), months)

    Outputs(freq1d, sent1d, sent2d, freq2d,
      release = () => if (persist) { enriched.unpersist(); () })
  }
}
