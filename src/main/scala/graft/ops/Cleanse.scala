package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Cleansing/derivation operators from the reference pipeline
  * (SURVEY.md §2.6 U1–U5), re-expressed as pure native `Column`
  * functions — no UDFs, fully inside whole-stage codegen, so Catalyst
  * can push adjacent filters/pruning through them (the reference's
  * Python UDFs fenced the optimizer; SURVEY.md §4).
  *
  * Works under Spark 4 ANSI mode: no operator here relies on a
  * lenient cast's null. U2 is one codegen'd expression whose parse
  * failure is 0 by construction; the others avoid throwing casts
  * (`try_to_date`).
  */
object Cleanse {

  /** U1 `timeStampPreCleaning` (ref demo.py:61-64): short timestamps
    * ("MMM dd", < 8 chars) get the implied year 2020 appended; long
    * forms ("MMM dd, yyyy") just lose the comma. */
  def tsPreClean(c: Column): Column =
    when(length(c) < 8, concat(c, lit(" 2020")))
      .otherwise(regexp_replace(c, ",", ""))

  /** U1 + to_date: full tweet-timestamp parse to DateType
    * (ref demo.py:67, format "MMM dd yyyy"). try_to_date, not
    * to_date: under Spark 4's default ANSI mode a plain to_date
    * THROWS on any malformed timestamp, whereas the pipeline's
    * contract (like the reference's lenient parse) is
    * unparseable → null → filtered. */
  def parseTweetDate(c: Column): Column =
    call_function("try_to_date", tsPreClean(c), lit("MMM dd yyyy"))

  /** U2 `transformNumber` (ref demo.py:38-47): social-count strings —
    * "1.2K"→1200, "3M"→3000000, plain numerals→int, anything
    * unparseable or null→0. One codegen'd expression
    * ([[graft.functions.KmNumber]]): it trims once and runs each regex
    * at most once per row.
    *
    * Where U2 knowingly differs from Python `float()`: only ASCII
    * blanks may surround a number and only ASCII digits parse, so an
    * NBSP- or `\u2028`-padded number, `"1_000"` and non-ASCII digits
    * all give 0 (Python strips all Unicode whitespace and accepts `_`
    * separators and any Unicode decimal digit). The DuckDB oracle of
    * q20 feeds it ASCII only. */
  def parseKmNumber(c: Column): Column = graft.functions.KmNumber(c)

  /** U3 `logNormal` (ref demo.py:85-87): log2 bucketing of engagement
    * counts, `int(round(log2(x+1)))+1`. Python round is banker's
    * rounding ⇒ `bround`. 0→1, 1000→11. */
  def logBucket(c: Column): Column =
    (bround(log2(c + 1), 0).cast("int") + 1)

  /** U4 `extractkeyword` (ref demo.py:92-110): pull the scrape keyword
    * out of a Twitter search URL. Strip '?', decode %20, regex-extract
    * `searchq=(.+) until`, drop the trailing " lang%3Aen", trim;
    * no match → null (Python returned None; regexp_extract returns ""
    * on miss, normalized here). */
  def extractKeyword(c: Column): Column = {
    val kw = keywordText(c)
    when(kw =!= "", kw)
  }

  /** [[extractKeyword]] before the miss normalization: "" on no match.
    * One copy of the regex chain, for callers that drop misses with a
    * filter anyway. */
  def keywordText(c: Column): Column = {
    val cleaned = regexp_replace(regexp_replace(c, "\\?", ""), "%20", " ")
    trim(regexp_replace(
      regexp_extract(cleaned, "searchq=(.+) until", 1), " lang%3Aen", ""))
  }

  /** U5 `getCategory2` (ref demo.py:122-135): keyword→category lookup.
    * The authoritative closure lists (demo.py:123-125; the module-level
    * ones at 117-119 are dead code) map soda-ish terms to three
    * categories; unknown → null. */
  val categoryTable: Seq[(String, String)] = Seq(
    "fizzy drink" -> "soda", "soda" -> "soda", "sparkling water" -> "soda",
    "tonic" -> "tonic",
    "ginger ale" -> "ginger ale", "coke" -> "ginger ale", "pop" -> "ginger ale")

  /** U5 as a chained conditional — the fastest shape for a 7-row dim
    * (constant-folded into codegen; no join at all). */
  def categoryFor(keyword: Column): Column =
    categoryTable.foldLeft(lit(null).cast("string")) { case (acc, (k, v)) =>
      when(keyword === k, lit(v)).otherwise(acc)
    }

  /** U5 as a broadcast-join dimension — the idiomatic Spark shape that
    * generalizes to dims too big to inline (SURVEY.md §2.3). */
  def categoryDim(spark: SparkSession): DataFrame = {
    import spark.implicits._
    categoryTable.toDF("keyword", "category2")
  }

  /** U7 `checkempty` (ref demo.py:145-154): 1 iff the NER phrase list
    * is the `["empty"]` sentinel. */
  def checkEmpty(phrases: Column): Column =
    (phrases === array(lit("empty"))).cast("int")
}
