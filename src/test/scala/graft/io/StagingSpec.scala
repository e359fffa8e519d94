package graft.io

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Contract of the fixture-staging memoizer Bench's stage_s split
  * rests on: one build per key per JVM, nested stages allowed,
  * stable dir tags; file fixtures read back with the schema they were
  * written with, so a build infers nothing and runs no job. */
class StagingSpec extends SparkSpec {

  test("once() runs the build exactly once per key and caches its result") {
    var runs = 0
    val key = s"stagingspec:${System.nanoTime()}"
    val a = Staging.once(key) { runs += 1; "built" }
    val b = Staging.once(key) { runs += 1; "rebuilt" }
    assert(a === "built" && b === "built" && runs === 1)
  }

  test("builds may nest (a drain stages its source first)") {
    val t = System.nanoTime()
    val outer = Staging.once(s"outer:$t") {
      val inner = Staging.once(s"inner:$t") { "src" }
      s"drained-from-$inner"
    }
    assert(outer === "drained-from-src")
    assert(Staging.once(s"inner:$t") { "never" } === "src")
  }

  test("distinct keys stage independently (per scale factor)") {
    val t = System.nanoTime()
    assert(Staging.once(s"q:$t:/sf0.01") { "a" } === "a")
    assert(Staging.once(s"q:$t:/sf0.1") { "b" } === "b")
  }

  test("dirTag is deterministic, filesystem-safe, and dir-sensitive") {
    assert(Staging.dirTag("/root/testdata/sf0.1") ===
      Staging.dirTag("/root/testdata/sf0.1"))
    assert(Staging.dirTag("/root/testdata/sf0.1") !==
      Staging.dirTag("/root/testdata/sf0.01"))
    assert(Staging.dirTag("/any/path").matches("[0-9a-f]{12}"))
  }

  private def rows(n: Int): DataFrame =
    spark.range(n).select(col("id"), (col("id") % 3).cast("int").as("k"),
      (col("id") / 4.0).as("x"), concat(lit("s"), col("id")).as("s"),
      array(col("id").cast("string")).as("arr"),
      timestamp_micros(col("id") * 1000000L).as("ts"),
      date_add(lit(java.sql.Date.valueOf("2024-01-01")),
        (col("id") % 2).cast("int")).as("d"))

  test("a fixture's write runs once per source dir per JVM") {
    var runs = 0
    val f = Staging.fixture("stagingspec_once", "parquet") { (_, _, out) =>
      runs += 1
      val df = rows(10)
      df.write.mode("overwrite").parquet(out)
      df
    }
    val t = System.nanoTime()
    f.stage(spark, s"/a/$t")
    assert(f.frame(spark, s"/a/$t").count() === 10)
    assert(f.frame(spark, s"/a/$t").count() === 10)
    assert(runs === 1)
    f.stage(spark, s"/b/$t")
    assert(runs === 2)
  }

  test("zero-row parquet, JSON and partitioned fixtures keep every column and type") {
    val empty = rows(0)
    // simpleString: a file read makes every field (and array element)
    // nullable, which is not a change of column or type
    def types(df: DataFrame) = df.schema.map(f => f.name -> f.dataType.simpleString)
    val written = types(empty)
    val t = System.nanoTime()
    val fixtures = Seq(
      Staging.fixture("stagingspec_pq", "parquet") { (_, _, out) =>
        empty.write.mode("overwrite").parquet(out); empty },
      Staging.fixture("stagingspec_json", "json") { (_, _, out) =>
        empty.write.mode("overwrite").json(out); empty },
      Staging.fixture("stagingspec_part", "parquet") { (_, _, out) =>
        empty.write.mode("overwrite").partitionBy("d").parquet(out); empty })
    fixtures.foreach { f =>
      val back = f.frame(spark, s"/empty/$t")
      assert(types(back) === written)
      assert(back.count() === 0)
    }
  }

  /** Spark jobs submitted by `body`, counted once the listener bus has
    * delivered a marker job that ran after it. */
  private def jobsDuring(body: => Unit): Int = {
    val sc = spark.sparkContext
    val g = s"stagingspec-${System.nanoTime()}"
    sc.setJobGroup(g, "build")
    try body finally sc.clearJobGroup()
    sc.setJobGroup(s"$g-marker", "drain")
    try spark.range(1).count() finally sc.clearJobGroup()
    val deadline = System.nanoTime() + 30000000000L
    while (sc.statusTracker.getJobIdsForGroup(s"$g-marker").isEmpty &&
      System.nanoTime() < deadline) Thread.sleep(20)
    assert(sc.statusTracker.getJobIdsForGroup(s"$g-marker").nonEmpty,
      "listener bus did not drain")
    sc.statusTracker.getJobIdsForGroup(g).length
  }

  test("a second build of a staged frame submits no Spark job") {
    var dir = ""
    val f = Staging.fixture("stagingspec_jobs", "parquet") { (_, _, out) =>
      dir = out
      val df = rows(100)
      df.write.mode("overwrite").parquet(out)
      df
    }
    val src = s"/jobs/${System.nanoTime()}"
    f.frame(spark, src)
    assert(jobsDuring(f.frame(spark, src).groupBy("k").count()) === 0)
    // the listener sees build jobs: an inferring read of the same
    // directory runs its footer job
    assert(jobsDuring(spark.read.parquet(dir)) > 0)
  }
}
