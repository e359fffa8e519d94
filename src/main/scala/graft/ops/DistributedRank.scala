package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact global ranks without a single-task sort — the qE2 range-
  * ledger construction, factored out so every query that needs a
  * total order over an unbounded frame (global row_number, ntile)
  * shares one proven implementation instead of an unpartitioned
  * `Window.orderBy` (which funnels the whole frame through ONE task —
  * the first thing to fall over at 100 TB).
  *
  * Construction: range-partition on the sort keys (distributed TeraSort-
  * style sort, parallel across tasks), per-partition `row_number`, and
  * a `parts`-row partition-count ledger whose running sum turns local
  * ranks into exact global ranks via a broadcast join. The only
  * unpartitioned window left touches the `parts`-row ledger, never the
  * data. qE2's oracle IS the naive global ntile, which pins this
  * construction bit-exact against the single-task form.
  *
  * `keys` must be a TOTAL order (add a PK tiebreak) so ranks are
  * bit-deterministic on any partitioning.
  */
object DistributedRank {

  /** Appends `r` (1-based exact global row_number over `keys`) and
    * `n_total` to `df`. Pins the range-partitioned frame once
    * ([[graft.io.CheckpointStrategy]]): the ledger and the ranked
    * frame must agree on partition ids, and exchange reuse is an
    * optimizer courtesy, not a guarantee.
    */
  def withGlobalRank(df: DataFrame, parts: Int, keys: Seq[Column]): DataFrame = {
    // "__"-prefixed working columns (the withNtile convention) plus a
    // collision require: unprefixed pid/rn/off would silently replace
    // and then drop a caller's same-named columns
    require(!df.columns.exists(Set("__pid", "__rn", "__off", "r", "n_total")
        .contains),
      "input already carries a __pid/__rn/__off working column or an " +
        "r/n_total output column; rename it first")
    // Spread.scan (r15 opt): repartitionByRange makes TWO passes over
    // its input (range-bound sampling, then the shuffle write) — on an
    // under-split source (one parquet row group) both ran serially.
    // The round-robin spread runs the serial scan once as a shuffle
    // map side; sampling and the range write then read its output in
    // parallel. Identity on any input that already has >= parts
    // splits, so no extra exchange at scale. r16: Spread.scan now
    // also refuses any non-scan input outright (aggregates — q108's
    // vocab counts, q106's per-user agg): probing those
    // executed their upstream stages eagerly at construction time and
    // added a redundant exchange before the range partitioner (ADVICE
    // r15); the range exchange itself already parallelizes them.
    val part = graft.io.CheckpointStrategy.EagerLocal.session("global_rank").pin(
      graft.ops.Spread.scan(df, df.columns.toSeq.map(col), parts)
        .repartitionByRange(parts, keys: _*)
        .withColumn("__pid", spark_partition_id()))
    val wp = Window.partitionBy("__pid").orderBy(keys: _*)
    val ranked = part.withColumn("__rn", row_number().over(wp).cast("long"))
    val wled = Window.orderBy(col("__pid").asc)
    val ledger = part.groupBy("__pid").agg(count(lit(1)).as("pn"))
      .withColumn("__off", coalesce(sum(col("pn"))
        .over(wled.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("n_total", sum(col("pn")).over(
        wled.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
      .select("__pid", "__off", "n_total")
    ranked.join(broadcast(ledger), Seq("__pid"))
      .withColumn("r", col("__off") + col("__rn"))
      .drop("__pid", "__rn", "__off")
  }

  /** Appends `out` = exact ntile(n) bucket (BIGINT, 1-based) over
    * `keys`, bit-identical to `ntile(n).over(Window.orderBy(keys))`:
    * with N rows, q = N div n and rem = N % n, the first rem buckets
    * take q+1 rows (SQL ntile's exact remainder rule). Drops the
    * rank/total helper columns.
    */
  def withNtile(df: DataFrame, parts: Int, n: Int, keys: Seq[Column],
      out: String): DataFrame =
    withGlobalRank(df, parts, keys)
      .withColumn("__q", expr(s"n_total div $n"))
      .withColumn("__rem", expr(s"n_total % $n"))
      .withColumn(out,
        when(col("r") <= col("__rem") * (col("__q") + 1),
          expr("(r - 1) div (__q + 1)") + 1)
          .otherwise(col("__rem") + expr("(r - __rem * (__q + 1) - 1) div __q") + 1))
      .drop("__q", "__rem", "r", "n_total")
}
