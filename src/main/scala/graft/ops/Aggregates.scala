package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The reference's four weighted group-aggregate pipelines
  * (SURVEY.md §2.4 A2–A5), algebraically reduced from its
  * RDD-groupByKey + per-group Python-dict form (ref demo.py:196-213,
  * 255-306, 352-404, 445-465) to flat `explode → groupBy → sum`
  * aggregates. Catalyst executes each as a partial (map-side) +
  * final hash aggregate: no whole-group materialization, shuffle
  * width = distinct key count — the shape that survives 100 TB.
  *
  * Weight formulas (deliberately different, ref demo.py:180-187 vs
  * 436-442 — pinned by unit tests):
  *   A2 1-D frequency:  Σ over tweets containing topic of (r + 1)
  *   A3 1-D sentiment:  Σ(s·(l+1)) / (Σ l + 1)
  *   A5 2-D frequency:  1 + Σ over tweets containing pair of r
  *   A4 2-D sentiment:  same ratio as A3, keyed by pair
  * Each weight is also a Column aggregate (`*Weight`), which a pivot
  * can take directly ([[pivotFilled]]).
  */
object Aggregates {

  /** A2 weight of one group: Σ (r + 1). */
  def freq1DWeight(r: Column): Column = sum(r + 1)

  /** A3/A4 weight of one group: Σ s·(l+1) / (Σ l + 1). */
  def sentimentWeight(s: Column, likesLog: Column): Column =
    sum(weightedSentiment(s, likesLog)) / (sum(likesLog) + 1)

  /** A5 weight of one group: 1 + Σ r (note: NOT Σ(r+1)). */
  def freq2DWeight(r: Column): Column = lit(1) + sum(r)

  /** A2: weighted topic frequency. `df` must carry `topic` (already
    * exploded) and the retweet log-bucket column `r`. */
  def weightedFreq1D(df: DataFrame, keys: Seq[String], topic: String,
                     r: String): DataFrame =
    df.groupBy((keys :+ topic).map(col): _*)
      .agg(freq1DWeight(col(r)).as("frequency"))

  /** U10 weighted sentiment value: s·(l+1) (ref demo.py:247-252). */
  def weightedSentiment(s: Column, likesLog: Column): Column =
    s * (likesLog + 1)

  /** A3: weighted mean sentiment per topic: Σ ws / (Σ l + 1). */
  def weightedSentiment1D(df: DataFrame, keys: Seq[String], topic: String,
                          s: String, likesLog: String): DataFrame =
    df.groupBy((keys :+ topic).map(col): _*)
      .agg(sentimentWeight(col(s), col(likesLog)).as("sentiment"))

  /** A5: weighted pair frequency: 1 + Σ r. `df` must carry pair
    * columns (already pair-exploded via Pairs). */
  def weightedFreq2D(df: DataFrame, keys: Seq[String], t1: String,
                     t2: String, r: String): DataFrame =
    df.groupBy((keys :+ t1 :+ t2).map(col): _*)
      .agg(freq2DWeight(col(r)).as("frequency"))

  /** A4: weighted pair sentiment: Σ ws / (Σ l + 1) keyed by pair. */
  def weightedSentiment2D(df: DataFrame, keys: Seq[String], t1: String,
                          t2: String, s: String, likesLog: String): DataFrame =
    df.groupBy((keys :+ t1 :+ t2).map(col): _*)
      .agg(sentimentWeight(col(s), col(likesLog)).as("sentiment"))

  /** A6: month pivot (ref demo.py:231,321,423-425,485-487):
    * `groupBy(keys).pivot(monthCol, values).max(valueCol)` with
    * explicit pivot values (single job — skips the distinct-values
    * pre-pass; SURVEY.md §3 E3) and zero fill. `max` is the
    * reference's no-op reducer: ≤1 value per cell by construction. */
  def monthPivot(df: DataFrame, keys: Seq[String], monthCol: String,
                 values: Seq[String], valueCol: String): DataFrame =
    pivotFilled(df, keys, col(monthCol), values, max(col(valueCol)))

  /** `groupBy(keys).pivot(pivot, values).agg(agg)`, zero-filled.
    * Empty `values` lets Spark discover them (one distinct job; Spark
    * sorts them). The agg runs on the raw rows, so a pivot over
    * unaggregated input needs no `max` level of its own. */
  def pivotFilled(df: DataFrame, keys: Seq[String], pivot: Column,
                  values: Seq[String], agg: Column): DataFrame = {
    val grouped = df.groupBy(keys.map(col): _*)
    val pivoted =
      (if (values.isEmpty) grouped.pivot(pivot) else grouped.pivot(pivot, values))
        .agg(agg)
    // zero-fill ONLY the pivoted cells: a bare na.fill(0) would also
    // rewrite a null in a numeric KEY column, conflating a null-keyed
    // group with a genuine key-0 group
    pivoted.na.fill(0, pivoted.columns.filterNot(keys.contains))
  }
}
