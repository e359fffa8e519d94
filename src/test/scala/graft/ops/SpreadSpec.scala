package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Pins the r15 parallelism-restoring repartitions (ops/Spread):
  *  - `scan` is the IDENTITY (no added exchange, same plan object)
  *    when the source already yields >= target splits — the property
  *    that makes it free at real scale;
  *  - `scan` spreads an under-split source to the target width and
  *    keeps the exact multiset of rows, counting a parquet file's
  *    splits by the row groups they carry;
  *  - `fanout` yields exactly the configured shuffle width (the AQE
  *    coalescer must not shrink it — REPARTITION_BY_NUM), rows
  *    preserved.
  */
class SpreadSpec extends SparkSpec {
  import spark.implicits._

  test("scan is the identity when the input already has enough splits") {
    val df = spark.range(0, 1000, 1, numPartitions = 8).toDF("id")
    val out = Spread.scan(df, Seq(col("id")), target = 4)
    // identity: the SAME DataFrame reference, so no exchange can appear
    assert(out eq df)
  }

  test("scan is the identity for ANY multi-split source, even below target") {
    // r15 sf10 lesson: a 7-row-group file scans 7-way naturally;
    // repartitioning it to 32 shuffles every byte for partial gain —
    // only the truly unsplittable single-partition case may fire
    val df = spark.range(0, 1000, 1, numPartitions = 2).toDF("id")
    val out = Spread.scan(df, Seq(col("id")), target = 32)
    assert(out eq df)
  }

  test("scan spreads an under-split source and preserves the rows") {
    val df = spark.range(0, 1000, 1, numPartitions = 1).toDF("id")
    val out = Spread.scan(df, Seq(col("id")), target = 4)
    assert(out.rdd.getNumPartitions == 4)
    assert(out.as[Long].collect().sorted.toSeq == (0L until 1000L))
  }

  test("keyless scan spread also reaches the target width") {
    val df = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
    val out = Spread.scan(df, target = 4)
    assert(out.rdd.getNumPartitions == 4)
    assert(out.as[Long].collect().sorted.toSeq == (0L until 100L))
  }

  /** `spark.range(n)` written as ONE parquet file; `rowGroupBytes`
    * bounds each row group's size, so a small value yields several. */
  private def parquetFile(n: Long, rowGroupBytes: Option[Int]): String = {
    val dir = graft.io.Scratch.tempDir("spread_spec")
    val w = spark.range(0, n, 1, numPartitions = 1).toDF("id").write
    rowGroupBytes.fold(w)(b => w.option("parquet.block.size", b.toString))
      .mode("overwrite").parquet(dir)
    dir
  }

  /** Reads `dir` cut into byte-range splits of at most 4 KB. */
  private def withSmallSplits[T](body: => T): T = {
    val k = "spark.sql.files.maxPartitionBytes"
    val was = spark.conf.get(k)
    spark.conf.set(k, "4096")
    try body finally spark.conf.set(k, was)
  }

  test("scan spreads a one-row-group parquet file cut into several splits") {
    // the splits without the row group's midpoint read nothing, so
    // the scan is as serial as a one-split source
    val dir = parquetFile(20000, None)
    withSmallSplits {
      val df = spark.read.parquet(dir)
      assert(df.rdd.getNumPartitions > 1)
      val out = Spread.scan(df, Seq(col("id")), target = 4)
      assert(out.rdd.getNumPartitions == 4)
      assert(out.as[Long].collect().sorted.toSeq == (0L until 20000L))
    }
  }

  test("scan is the identity on a parquet file whose row groups span splits") {
    val dir = parquetFile(20000, Some(8192))
    withSmallSplits {
      val df = spark.read.parquet(dir)
      assert(df.rdd.getNumPartitions > 1)
      assert(Spread.scan(df, Seq(col("id")), target = 4) eq df)
    }
  }

  test("fanout pins the configured shuffle width against AQE coalescing") {
    // tiny frame: AQE would coalesce a plain groupBy output to 1
    // partition; the pinned-width repartition must keep all 4
    val df = spark.range(0, 64, 1, numPartitions = 2).toDF("k")
      .groupBy("k").agg(count(lit(1)).as("n"))
    val out = Spread.fanout(df, Seq(col("k")))
    assert(out.rdd.getNumPartitions ==
      spark.conf.get("spark.sql.shuffle.partitions").toInt)
    assert(out.agg(sum("n")).head().getLong(0) == 64L)
  }

  test("scan refuses a non-scan input outright (r16 gate)") {
    // an aggregate input: under AQE, probing df.rdd would EXECUTE the
    // upstream shuffle eagerly at construction time and the observed
    // count would be the AQE-coalesced one, not a scan split count
    // (ADVICE r15) — the gate must return the same reference without
    // planning the frame at all
    val df = spark.range(0, 100, 1, numPartitions = 1).toDF("id")
      .groupBy("id").agg(count(lit(1)).as("n"))
    val out = Spread.scan(df, Seq(col("id")), target = 4)
    assert(out eq df)
  }

  test("fanoutSized pins ceil(units/unitsPerTask) clamped to conf width") {
    val df = spark.range(0, 64, 1, numPartitions = 2).toDF("k")
      .groupBy("k").agg(count(lit(1)).as("n"))
    val w = spark.conf.get("spark.sql.shuffle.partitions").toInt
    assert(Spread.fanoutSized(df, Seq(col("k")), 2500, 1000)
      .rdd.getNumPartitions == 3)
    assert(Spread.fanoutSized(df, Seq(col("k")), 1, 1000)
      .rdd.getNumPartitions == 1)
    assert(Spread.fanoutSized(df, Seq(col("k")), 1000L * w * 2, 1000)
      .rdd.getNumPartitions == w)
  }

  test("fanoutSized survives a same-key child exchange at full width") {
    // redundant-repartition elimination: repartition(w, k) directly
    // over the aggregate's own hashpartitioning(k, w) exchange is
    // DROPPED by the planner — r15's qB4/qDB pins were silently dead
    // this way. The hash-wrapped partitioning keys must keep the pin
    // alive in the executed plan, and rows must be preserved.
    val w = spark.conf.get("spark.sql.shuffle.partitions").toInt
    val df = spark.range(0, 64, 1, numPartitions = 2).toDF("k")
      .groupBy("k").agg(count(lit(1)).as("n"))
    val out = Spread.fanoutSized(df, Seq(col("k")), 1000L * w, 1000L)
    assert(out.rdd.getNumPartitions == w)
    assert(out.queryExecution.executedPlan.toString
      .contains("REPARTITION_BY_NUM"))
    assert(out.agg(sum("n")).head().getLong(0) == 64L)
  }
}
