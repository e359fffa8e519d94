package graft.io

import java.nio.file.Files

import graft.SparkSpec

class SinksSpec extends SparkSpec {
  import spark.implicits._

  test("CSV round-trip: write (header) → glob read (inferSchema) preserves data") {
    val dir = Files.createTempDirectory("graft_csv").toString
    val df = Seq((1L, "a,comma", 1.5), (2L, "plain", -3.25), (3L, "", 0.0))
      .toDF("id", "s", "v")
    Sinks.writeCsv(df, s"$dir/out", singleFile = true)
    val back = Sinks.readCsv(spark, s"$dir/out/*.csv")
    assert(back.schema.fieldNames.toSeq === Seq("id", "s", "v"))
    val rows = back.orderBy("id").collect()
    // inferSchema narrows small integers to IntegerType
    assert(rows.map(_.getAs[Number]("id").longValue()).toSeq === Seq(1L, 2L, 3L))
    assert(rows.map(_.getString(1)).toSeq === Seq("a,comma", "plain", null)) // empty → null
    assert(rows.map(_.getDouble(2)).toSeq === Seq(1.5, -3.25, 0.0))
  }

  test("multi-path CSV glob is an implicit union (SRC1)") {
    val dir = Files.createTempDirectory("graft_csv2").toString
    Sinks.writeCsv(Seq((1, "x")).toDF("id", "s"), s"$dir/a", singleFile = true)
    Sinks.writeCsv(Seq((2, "y")).toDF("id", "s"), s"$dir/b", singleFile = true)
    val back = Sinks.readCsv(spark, s"$dir/a/*.csv", s"$dir/b/*.csv")
    assert(back.count() === 2)
  }

  test("distributed parquet sink round-trips") {
    val dir = Files.createTempDirectory("graft_pq").toString
    val df = Seq((1L, Seq("a", "b")), (2L, Seq.empty[String])).toDF("id", "arr")
    Sinks.writeParquet(df, s"$dir/p")
    val back = spark.read.parquet(s"$dir/p").orderBy("id").collect()
    assert(back.map(_.getLong(0)).toSeq === Seq(1L, 2L))
    assert(back(0).getSeq[String](1) === Seq("a", "b"))
  }
}
