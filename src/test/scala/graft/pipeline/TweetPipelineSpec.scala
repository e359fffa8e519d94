package graft.pipeline

import graft.SparkSpec
import org.apache.spark.sql.GraftShims
import org.apache.spark.sql.functions.col

import graft.ops.Cleanse
import graft.text.EntityRuler

/** Golden-invariant test (SURVEY.md §5.3): a deterministic fixture
  * through the full pipeline, checked against (a) the reference's
  * golden-output schema shape and invariants, (b) a brute-force Scala
  * fold of the A2 weight formula. */
class TweetPipelineSpec extends SparkSpec {
  import TweetPipelineSpec._
  import spark.implicits._

  private lazy val out = TweetPipeline.run(
    fixture.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets"),
    matcher, seed = 7L, sampleN = 100)

  test("golden schema shape: keys, lexicographic month columns, Category1 last") {
    val cols = out.freq1d.columns.toSeq
    assert(cols.take(2) === Seq("Topic", "Category2"))
    assert(cols.last === "Category1")
    val monthCols = cols.drop(2).dropRight(1)
    assert(monthCols.nonEmpty && monthCols.forall(_.startsWith("Frequency_")))
    assert(monthCols === monthCols.sorted) // pivot sorts lexicographically
    assert(out.sent2d.columns.take(3).toSeq === Seq("Category2", "Topic", "Topic2"))
  }

  test("invariants: no empty sentinel rows, no nulls after fill, Beverage tag") {
    val rows = out.freq1d.collect()
    assert(rows.nonEmpty)
    assert(!rows.exists(_.getAs[String]("Topic") == "empty"))
    assert(rows.forall(_.getAs[String]("Category1") == "Beverage"))
    assert(rows.forall(r => !r.anyNull))
    val rows2 = out.freq2d.collect()
    assert(!rows2.exists(r => r.getAs[String]("Topic") == "empty" ||
      r.getAs[String]("Topic2") == "empty"))
  }

  test("A2 frequency cell matches a brute-force fold of the fixture") {
    // brute-force: tweets in Jan 2019 with category 'ginger ale'
    // (keyword coke) containing topic Coke: Σ (Retweets_log + 1)
    def rl(s: String): Int = {
      val n = try {
        val t = s.trim
        if (t.toUpperCase.endsWith("K")) (t.dropRight(1).toDouble * 1000).toLong
        else if (t.toUpperCase.endsWith("M")) (t.dropRight(1).toDouble * 1e6).toLong
        else t.toDouble.toLong
      } catch { case _: Throwable => 0L }
      math.rint(math.log(n + 1) / math.log(2)).toInt + 1
    }
    val expected = fixture
      .filter(t => t._1 != null && t._1.endsWith("2019") && t._1.startsWith("Jan"))
      .filter(t => t._3 == url("coke"))
      .filter(t => matcher.matchTokens(graft.text.Tokenizer.tokenize(t._2)).contains("Coke"))
      .map(t => rl(t._6) + 1).sum
    val cell = out.freq1d
      .filter($"Topic" === "Coke" && $"Category2" === "ginger ale")
      .select("Frequency_2019-1").as[Long].collect()
    assert(cell.toSeq === Seq(expected.toLong))
  }

  test("sentiment outputs are FloatType (32-bit, like the reference)") {
    import org.apache.spark.sql.types.FloatType
    val sentCols = out.sent1d.schema.fields.filter(_.name.startsWith("Sentiment_"))
    assert(sentCols.nonEmpty && sentCols.forall(_.dataType == FloatType))
  }

  test("SRC1 end-to-end: fixture through CSV files into the pipeline") {
    // the reference's actual ingestion shape: CSV glob with
    // header+inferSchema (ref demo.py:53) feeding the pipeline
    val dir = java.nio.file.Files.createTempDirectory("graft_tweets").toString
    graft.io.Sinks.writeCsv(
      fixture.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets"),
      s"$dir/tweets", singleFile = true)
    val raw = graft.io.Sinks.readCsv(spark, s"$dir/tweets/*.csv")
    // inferSchema narrows numeric-looking columns; the pipeline
    // contract is all-strings input (like the reference's data)
    val asStrings = raw.columns.foldLeft(raw)((d, c) => d.withColumn(c, col(c).cast("string")))
    val out = TweetPipeline.run(asStrings, matcher, seed = 7L, sampleN = 100)
    val viaDf = TweetPipeline.run(
      fixture.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets"),
      matcher, seed = 7L, sampleN = 100)
    assert(out.freq1d.columns.toSeq === viaDf.freq1d.columns.toSeq)
    assert(out.freq1d.collect().toSet === viaDf.freq1d.collect().toSet)
  }

  test("pinned months produce exactly those pivot columns, zero-filled") {
    val pinned = TweetPipeline.run(
      fixture.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets"),
      matcher, seed = 7L, sampleN = 100,
      months = Seq("2019-1", "2019-2", "2019-3"))
    assert(pinned.freq1d.columns.toSeq ===
      Seq("Topic", "Category2", "Frequency_2019-1", "Frequency_2019-2",
        "Frequency_2019-3", "Category1"))
    // 2019-3 has no data → all zeros
    val v = pinned.freq1d.select("Frequency_2019-3").as[Long].collect()
    assert(v.nonEmpty && v.forall(_ == 0L))
  }

  test("pinned months: constructing all four outputs submits zero Spark jobs") {
    // the production path (months supplied) must plan lazily — no
    // distinct-values pre-pass, no driver collect — so each output is
    // a single job when materialized
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val o = TweetPipeline.run(
        fixture.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets"),
        matcher, seed = 7L, sampleN = 100,
        months = Seq("2019-1", "2019-2", "2020-3"), persist = false)
      // force full analysis (not execution) of every output
      assert(Seq(o.freq1d, o.sent1d, o.sent2d, o.freq2d)
        .forall(_.schema.fieldNames.nonEmpty))
      GraftShims.waitForListeners(spark) // every job event is delivered
      assert(jobs.get() === 0,
        s"pinned-months construction submitted ${jobs.get()} job(s)")
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  // repartitioned: over a bare local relation the optimizer would
  // evaluate the whole enrichment while planning
  private def pinnedOutputs(persist: Boolean) = TweetPipeline.run(
    fixture.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets")
      .repartition(2),
    matcher, seed = 7L, sampleN = 5, months = Seq("2019-1", "2019-2", "2020-3"),
    persist = persist)

  private def all(o: TweetPipeline.Outputs) = Seq(o.freq1d, o.sent1d, o.sent2d, o.freq2d)

  /** The physical plans of the cached enrich frames under `plans`. */
  private def cachedPlans(plans: Seq[org.apache.spark.sql.execution.SparkPlan]) =
    plans.flatMap(_.collect {
      case s: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        s.relation.cachedPlan
    })

  private def withoutAqe[A](body: => A): A = {
    val adaptiveWas = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body finally spark.conf.set("spark.sql.adaptive.enabled", adaptiveWas)
  }

  test("NER and the keyword regex chain run once per sampled row, on both paths") {
    // a filter on a projected column used to be pushed below the
    // projection with the expression copied into it: 3 NerExtract and
    // 2 regexp_extract nodes per enriched row. NER and sentiment share
    // one tokenizer (regexp_extract_all) node; sentiment tokenizing the
    // Text again would make two. The count is taken over the physical
    // plan that runs; with persist the outputs scan the cache, whose
    // own plan is counted separately.
    import org.apache.spark.sql.catalyst.expressions.{Expression, RegExpExtract, RegExpExtractAll}
    import org.apache.spark.sql.execution.SparkPlan
    def nodes(p: SparkPlan)(pick: PartialFunction[Expression, Unit]): Int =
      p.collect { case n => n.expressions.map(_.collect(pick).size).sum }.sum
    def ner(p: SparkPlan) = nodes(p) { case _: graft.functions.NerExtract => }
    def regex(p: SparkPlan) = nodes(p) { case _: RegExpExtract => }
    def tokens(p: SparkPlan) = nodes(p) { case _: RegExpExtractAll => }
    withoutAqe {
      all(pinnedOutputs(persist = false)).map(_.queryExecution.executedPlan).foreach { p =>
        assert(ner(p) === 1 && regex(p) === 1 && tokens(p) === 1, p.toString)
      }
      val cached = pinnedOutputs(persist = true)
      try all(cached).map(_.queryExecution.executedPlan).foreach { p =>
        assert(ner(p) === 0 && regex(p) === 0 && tokens(p) === 0, p.toString)
        val child = cachedPlans(Seq(p)).headOption
        assert(child.exists(c => ner(c) === 1 && regex(c) === 1 && tokens(c) === 1),
          child.toString)
      } finally cached.release()
    }
  }

  test("no generated method of the enrich cache or an output is too large to JIT-compile") {
    // HotSpot never compiles a method over 8,000 bytecode bytes; U2 as
    // a Column of regex-gated casts per count column made the enrich
    // stage's main method 13,800 bytes
    import org.apache.spark.sql.execution.debug.codegenStringSeq
    withoutAqe {
      val o = pinnedOutputs(persist = true)
      try {
        val plans = all(o).map(_.queryExecution.executedPlan)
        val cached = cachedPlans(plans)
        assert(cached.size === 4)
        val stages = (plans ++ cached).flatMap(codegenStringSeq)
        assert(stages.size > 4)
        stages.foreach { case (subtree, _, stats) =>
          assert(stats.maxMethodCodeSize <= graft.Inspect.HugeMethodBytes, subtree)
        }
      } finally o.release()
    }
  }

  test("hashSample: selects the sampleN-smallest md5 rows, layout-invariant") {
    // 20 valid rows, sample 8: the selected multiset must equal a
    // driver-side MessageDigest fold of the same fixed-width
    // per-field md5 blocks — the property that lets the DuckDB
    // pipeline oracles mirror the sample exactly at scale factors
    // where the limit bites (blocks, not a '|' join: a Text
    // containing '|' must not alias with the adjacent fields)
    val rows = (1 to 20).map { i =>
      (f"Jan $i%02d, 2019", s"coke number $i", url("coke"),
        (i % 5).toString, (i % 9).toString, (i % 200).toString)
    }
    def jvmMd5(t: (String, String, String, String, String, String)): String = {
      def m(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      m(Seq(t._1, t._2, t._3, t._4, t._5, t._6).map(m).mkString)
    }
    val expected = rows.sortBy(jvmMd5).take(8).map(_._2).toSet
    val df = rows.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets")
    val got = TweetPipeline.enrich(df, matcher, sampleN = 8, hashSample = true)
      .select("Text").as[String].collect().toSet
    assert(got === expected)
    // partition layout must not change the selection (rand(seed) fails
    // this exact property — that's why the oracles use hashSample)
    val got7 = TweetPipeline.enrich(df.repartition(7), matcher,
      sampleN = 8, hashSample = true).select("Text").as[String].collect().toSet
    assert(got7 === expected)
  }

  test("golden header parity: exact column sequence of the reference CSV") {
    // ref Frequency_monthly_demo.csv:1 — Topic, Category2, the
    // discovered months in LEXICOGRAPHIC order (2018-1 < 2018-10 <
    // 2018-11 < 2018-12 < 2018-2 ...), Category1 last
    val ref = new java.io.File("/root/reference/Frequency_monthly_demo.csv")
    assume(ref.exists(), "reference tree not mounted")
    val src = scala.io.Source.fromFile(ref, "UTF-8")
    val header = try src.getLines().next().split(",").toSeq finally src.close()
    val months = header.filter(_.startsWith("Frequency_"))
      .map(_.stripPrefix("Frequency_"))
    val out = TweetPipeline.run(
      fixture.toDF("Timestamp", "Text", "Page_URL", "Comments", "Likes", "Retweets"),
      matcher, seed = 7L, sampleN = 100, months = months)
    assert(out.freq1d.columns.toSeq === header)
  }
}

/** The deterministic fixture and matcher, shared with the sink specs. */
object TweetPipelineSpec {
  import EntityRuler._

  val matcher = new Matcher(Seq(
    Pattern("Brand", Seq(LowerTok("coke")), Some("Coke")),
    Pattern("Brand", Seq(LowerTok("ginger"), LowerTok("ale")), Some("Ginger Ale")),
    Pattern("Brand", Seq(LowerTok("tonic")), Some("Tonic")),
    Pattern("Ingredient", Seq(LowerTok("lime")), Some("Lime"))))

  def url(kw: String) =
    s"https://twitter.com/search?q=${kw.replace(" ", "%20")}%20lang%3Aen%20until%3A2019-03-01"

  // (Timestamp, Text, Page_URL, Comments, Likes, Retweets)
  val fixture = Seq(
    ("Jan 05, 2019", "I love coke with lime", url("coke"), "1", "10", "3"),
    ("Jan 07, 2019", "coke is great really", url("coke"), "0", "1.2K", "7"),
    ("Jan 09, 2019", "ginger ale and lime", url("ginger ale"), "2", "15", "0"),
    ("Feb 02, 2019", "tonic tastes awful", url("tonic"), "0", "3", "1"),
    ("Feb 11, 2019", "coke coke coke", url("coke"), "garbage", "5", "2K"),
    ("Mar 07", "tonic with lime", url("tonic"), "1", "2", "4"), // short ts → 2020
    ("Jan 20, 2019", "nothing to see here", url("coke"), "0", "0", "0"), // empty NER → dropped
    (null, "coke", url("coke"), "0", "0", "0") // null ts → dropped
  )
}
