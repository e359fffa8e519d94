package graft.ops

import org.apache.spark.sql.functions.col

import graft.SparkSpec

class CleanseSpec extends SparkSpec {
  import spark.implicits._

  private def one[T](df: org.apache.spark.sql.DataFrame): T =
    df.collect().head.getAs[T](0)

  test("U1 tsPreClean: <8 chars gets ' 2020', else comma stripped (boundary at 8)") {
    val out = Seq("Jan 05", "Jan 05, 1995", "Jan 5,,", "1234567", "12345678")
      .toDF("x").select(Cleanse.tsPreClean(col("x"))).as[String].collect()
    // note: the <8 branch appends the year WITHOUT stripping commas —
    // exactly the reference's either-or semantics (demo.py:61-64)
    assert(out === Seq("Jan 05 2020", "Jan 05 1995", "Jan 5,, 2020", "1234567 2020", "12345678"))
  }

  test("U1+to_date parseTweetDate") {
    val out = Seq("Jan 05, 1995", "Feb 29", "Dec 31, 2001")
      .toDF("x").select(Cleanse.parseTweetDate(col("x")).cast("string"))
      .as[String].collect()
    assert(out === Seq("1995-01-05", "2020-02-29", "2001-12-31"))
  }

  test("U2 parseKmNumber: K/M suffixes, plain ints, garbage→0") {
    val cases = Seq(
      "1.2K" -> 1200, "3M" -> 3000000, "42" -> 42, "0" -> 0,
      "23.7K" -> 23700, // IEEE 23.7*1000 rounds to exactly 23700.0, like Python
      "1.5" -> 1, "garbage" -> 0, "" -> 0, " 7 " -> 7, "2k" -> 2000)
    val out = cases.map(_._1).toDF("x")
      .select(Cleanse.parseKmNumber(col("x"))).as[Int].collect()
    assert(out.toSeq === cases.map(_._2))
  }

  test("U2 parseKmNumber: a number before U+2028 or U+0085 is 0 under ANSI, not an error") {
    // Java's `$` matches before either terminator, so the numeral
    // regex accepts these, but the string-to-double cast does not trim
    // them: the Column form this replaced threw CAST_INVALID_INPUT
    assert(spark.conf.get("spark.sql.ansi.enabled") === "true")
    val out = Seq("5\u2028", "5\u0085", "5K\u2028").toDF("x").repartition(2)
      .select(Cleanse.parseKmNumber(col("x"))).as[Int].collect()
    assert(out.toSeq === Seq(0, 0, 0))
  }

  test("U3 logBucket: 0→1, 1000→11, banker's rounding via bround") {
    val cases = Seq(0 -> 1, 1 -> 2, 1000 -> 11, 2 -> 3, 3 -> 3, 7 -> 4)
    val out = cases.map(_._1).toDF("x")
      .select(Cleanse.logBucket(col("x"))).as[Int].collect()
    assert(out.toSeq === cases.map(_._2))
  }

  test("U4 extractKeyword: decode, extract, drop lang tag; miss→null") {
    val hit = "https://twitter.com/search?q=ginger%20ale%20lang%3Aen%20until%3A2020-01-01"
    val miss = "https://twitter.com/search?f=live"
    val out = Seq(hit, miss).toDF("x")
      .select(Cleanse.extractKeyword(col("x"))).as[Option[String]].collect()
    assert(out.toSeq === Seq(Some("ginger ale"), None))
  }

  test("U5 categoryFor matches the live closure lists (demo.py:123-125)") {
    val cases = Seq(
      "fizzy drink" -> Some("soda"), "soda" -> Some("soda"),
      "sparkling water" -> Some("soda"), "tonic" -> Some("tonic"),
      "ginger ale" -> Some("ginger ale"), "coke" -> Some("ginger ale"),
      "pop" -> Some("ginger ale"), "water" -> None)
    val out = cases.map(_._1).toDF("x")
      .select(Cleanse.categoryFor(col("x"))).as[Option[String]].collect()
    assert(out.toSeq === cases.map(_._2))
  }

  test("U7 checkEmpty: 1 iff ['empty'] sentinel") {
    val out = Seq(Seq("empty"), Seq("a"), Seq("empty", "a"), Seq())
      .toDF("x").select(Cleanse.checkEmpty(col("x"))).as[Int].collect()
    assert(out.toSeq === Seq(1, 0, 0, 0))
  }
}
