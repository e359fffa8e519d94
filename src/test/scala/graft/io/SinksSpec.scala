package graft.io

import java.io.File
import java.nio.file.Files

import org.apache.spark.sql.{AnalysisException, DataFrame, GraftShims, Row}
import org.apache.spark.sql.functions.{col, udf}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.pipeline.{TweetPipeline, TweetPipelineSpec}

class SinksSpec extends SparkSpec {
  import spark.implicits._

  /** The `*.csv` files directly under `dir`, as a shell glob matches
    * them (no hidden files), by name. */
  private def csvFiles(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith(".") && f.getName.endsWith(".csv"))
      .sortBy(_.getName)

  private def onlyCsv(dir: String): Array[Byte] = {
    val fs = csvFiles(dir)
    assert(fs.size === 1, s"$dir holds ${fs.map(_.getName)}")
    Files.readAllBytes(fs.head.toPath)
  }

  /** Asserts that the single-file sink writes the bytes of the part
    * file Spark's own CSV writer writes for `df`; returns them. */
  private def assertSparkBytes(df: DataFrame): Array[Byte] = {
    val dir = Files.createTempDirectory("graft_csv_eq").toString
    df.coalesce(1).write.option("header", "true").csv(s"$dir/spark")
    Sinks.writeCsv(df, s"$dir/ours", singleFile = true)
    val (want, got) = (onlyCsv(s"$dir/spark"), onlyCsv(s"$dir/ours"))
    assert(new String(got, "UTF-8") === new String(want, "UTF-8"))
    assert(got.sameElements(want))
    got
  }

  /** Every hard case of CSV quoting and value formatting. */
  private lazy val edgeCases: DataFrame = {
    val schema = StructType(Seq(
      StructField("s", StringType), StructField("f", FloatType),
      StructField("d", DoubleType), StructField("m", DecimalType(12, 3)),
      StructField("day", DateType), StructField("ts", TimestampType),
      StructField("i", IntegerType), StructField("b", BooleanType)))
    val day = java.sql.Date.valueOf("2019-01-05")
    val ts = java.sql.Timestamp.valueOf("2019-01-05 13:14:15.123456")
    def dec(s: String) = new java.math.BigDecimal(s)
    val rows = Seq(
      Row("plain", 1.5f, 2.25, dec("1.500"), day, ts, 1, true),
      Row("a,comma", -0.0f, -0.0, dec("-0.001"), null, null, -7, false),
      Row("say \"hi\"", Float.NaN, Double.NaN, dec("123456789.123"), day, ts, 0, null),
      Row("line\nbreak", Float.PositiveInfinity, Double.PositiveInfinity, null, day, ts, null, true),
      Row("crlf\r\nbreak", Float.NegativeInfinity, Double.NegativeInfinity, dec("0.000"), day, ts, 3, true),
      Row("", 0.1f, 0.1, dec("-99.999"), day, ts, 4, false),
      Row(null, null, null, null, null, null, null, null),
      Row("  padded  ", 1e-10f, 1e300, dec("7.000"), day, ts, Int.MaxValue, true),
      Row("caf\u00e9 \u00fcber na\u00efve \u65e5\u672c", 3.4028235e38f, 4.9e-324, dec("1.000"), day, ts, Int.MinValue, false),
      Row("\ud83d\ude00 \ud834\udd1e \ud840\udc0b", 1.0f, 1.0, dec("2.000"), day, ts, 5, true),
      Row("unpaired \ud800 and \udfff surrogates", 1.25f, 1.25, dec("2.500"), day, ts, 8, false),
      Row("\"", 2.0f, 2.0, dec("3.000"), day, ts, 6, true),
      Row("tab\tand#hash", 3.0f, 3.0, dec("4.000"), day, ts, 7, true))
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 3), schema)
  }

  test("single file: the bytes of Spark's CSV part file, for the four pipeline outputs") {
    import TweetPipelineSpec._
    val o = TweetPipeline.run(
      fixture.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets"),
      matcher, seed = 7L, sampleN = 100)
    try Seq(o.freq1d, o.sent1d, o.sent2d, o.freq2d).foreach { df =>
      val lines = new String(assertSparkBytes(df), "UTF-8").split("\n")
      assert(lines.head === df.columns.mkString(","))
      assert(lines.length > 1)
    } finally o.release()
  }

  test("single file: the bytes of Spark's CSV part file, for quoting, special values and types") {
    assert(spark.conf.get("spark.sql.session.timeZone") === "UTC")
    val text = new String(assertSparkBytes(edgeCases), "UTF-8")
    assert(text.startsWith("s,f,d,m,day,ts,i,b\n"))
    assert(text.contains("\"line\nbreak\"") && text.contains("\"crlf\r\nbreak\""))
    assert(text.contains("\ud83d\ude00"))
  }

  test("single file: a zero-row frame gives a header-only file, as Spark's writer does") {
    val text = new String(assertSparkBytes(edgeCases.limit(0)), "UTF-8")
    assert(text === "s,f,d,m,day,ts,i,b\n")
    val none = spark.createDataFrame(spark.sparkContext.emptyRDD[Row], edgeCases.schema)
    assert(none.rdd.getNumPartitions === 0)
    assert(new String(assertSparkBytes(none), "UTF-8") === text)
  }

  test("single file: a write that fails leaves no *.csv, not even the old one") {
    val dir = Files.createTempDirectory("graft_csv_fail").toString
    Sinks.writeCsv(Seq((1L, "old")).toDF("id", "s"), s"$dir/out", singleFile = true)
    assert(csvFiles(s"$dir/out").size === 1)
    val boom = udf((i: Long) => if (i == 49L) throw new IllegalStateException("row 50") else i)
    val df = spark.range(0, 100, 1, 2).select(boom(col("id")).as("id"))
    val e = intercept[Exception](Sinks.writeCsv(df, s"$dir/out", singleFile = true))
    assert(Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage).contains("row 50")), e.toString)
    assert(csvFiles(s"$dir/out").isEmpty)
    assert(Option(new File(s"$dir/out").list()).toSeq.flatten.forall(!_.contains(".csv")))
  }

  test("single file: a second write to a path replaces the first") {
    val dir = Files.createTempDirectory("graft_csv_twice").toString
    Sinks.writeCsv(Seq((1, "first"), (2, "first")).toDF("id", "s"), s"$dir/out", singleFile = true)
    // the second time as a file: URI
    Sinks.writeCsv(Seq((3, "second")).toDF("id", "s"), new File(s"$dir/out").toURI.toString,
      singleFile = true)
    assert(new String(onlyCsv(s"$dir/out"), "UTF-8") === "id,s\n3,second\n")
  }

  test("single file: array, map and struct columns are rejected as Spark's writer rejects them") {
    val dir = Files.createTempDirectory("graft_csv_types").toString
    val frames = Seq(
      Seq((1, Seq("a", "b"))).toDF("id", "arr"),
      Seq((1, Map("k" -> 1))).toDF("id", "m"),
      Seq((1, ("a", 2))).toDF("id", "st"))
    frames.zipWithIndex.foreach { case (df, i) =>
      val want = intercept[AnalysisException](
        df.coalesce(1).write.option("header", "true").csv(s"$dir/spark$i"))
      val got = intercept[AnalysisException](Sinks.writeCsv(df, s"$dir/ours$i", singleFile = true))
      assert(got.getCondition === "UNSUPPORTED_DATA_TYPE_FOR_DATASOURCE")
      assert(got.getCondition === want.getCondition)
      assert(csvFiles(s"$dir/ours$i").isEmpty)
    }
  }

  test("single file: repeated column names are written as Spark's writer writes them") {
    // Spark's CSV writer does not reject them, exactly or by case
    val ab = Seq((1, "x")).toDF("a", "b")
    assert(new String(assertSparkBytes(ab.select(col("a"), col("a"))), "UTF-8") === "a,a\n1,1\n")
    assert(new String(assertSparkBytes(ab.select(col("a"), col("b").as("A"))), "UTF-8") === "a,A\n1,x\n")
  }

  test("single file: one job, seen by QueryExecutionListeners as one SQL execution") {
    import java.util.concurrent.atomic.AtomicInteger
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    // three partitions and no exchange: one stage
    val df = spark.range(0, 3, 1, 3).selectExpr("id", "cast(id as string) as s")
    val (jobs, executions) = (new AtomicInteger, new AtomicInteger)
    val jobListener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = { jobs.incrementAndGet(); () }
    }
    val qeListener = new QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = {
        executions.incrementAndGet(); ()
      }
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    // events still queued from earlier work would reach the new listeners
    GraftShims.waitForListeners(spark)
    spark.sparkContext.addSparkListener(jobListener)
    spark.listenerManager.register(qeListener)
    try {
      val dir = Files.createTempDirectory("graft_csv_jobs").toString
      Sinks.writeCsv(df, s"$dir/out", singleFile = true)
      GraftShims.waitForListeners(spark)
      assert(jobs.get() === 1)
      assert(executions.get() === 1)
      assert(new String(onlyCsv(s"$dir/out"), "UTF-8").split("\n").length === 4)
    } finally {
      spark.sparkContext.removeSparkListener(jobListener)
      spark.listenerManager.unregister(qeListener)
    }
  }

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
