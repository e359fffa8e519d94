package graft.text

import org.scalatest.funsuite.AnyFunSuite

import graft.queries.TextQueries

class TokenizerSpec extends AnyFunSuite {
  test("punctuation split, mentions whole, hashtag split to #,word") {
    assert(Tokenizer.tokenize("Love @CocaCola's #newCoke, really!").toSeq ===
      Seq("Love", "@CocaCola", "'", "s", "#", "newCoke", ",", "really", "!"))
  }
  test("null and empty") {
    assert(Tokenizer.tokenize(null).isEmpty)
    assert(Tokenizer.tokenize("").isEmpty)
  }
  test("contractions stay attached") {
    assert(Tokenizer.tokenize("don't stop").toSeq === Seq("don't", "stop"))
  }
}

class RulerMatcherSpec extends AnyFunSuite {
  import EntityRuler._
  private val m = new Matcher(TextQueries.demoPatterns)

  test("longest match wins: 'sort merge' → Sort-Merge, not Sort+Merge") {
    assert(m.matchTokens(Array("sort", "merge", "x")).toSeq === Seq("Sort-Merge"))
  }

  test("single-token fallback when longer pattern doesn't complete") {
    assert(m.matchTokens(Array("sort", "x", "merge")).toSeq === Seq("Sort", "Merge"))
  }

  test("LOWER patterns are case-insensitive") {
    assert(m.matchTokens(Array("HASH", "Join")).toSeq === Seq("Hash Join"))
  }

  test("Text patterns are case-sensitive, distinct ids per casing") {
    assert(m.matchTokens(Array("spark")).toSeq === Seq("Spark"))
    assert(m.matchTokens(Array("Spark")).toSeq === Seq("SparkTitleCase"))
    assert(m.matchTokens(Array("SPARK")).toSeq === Seq("empty"))
  }

  test("no id → surface text emitted") {
    assert(m.matchTokens(Array("stream")).toSeq === Seq("stream"))
    assert(m.matchTokens(Array("STREAM")).toSeq === Seq("STREAM")) // surface, original case
  }

  test("mixed Text/LOWER pattern applies per-token case rules (spaCy parity)") {
    val mixed = new Matcher(Seq(
      Pattern("Brand", Seq(ExactTok("Dr"), LowerTok("pepper")), Some("Dr Pepper"))))
    assert(mixed.matchTokens(Array("Dr", "Pepper")).toSeq === Seq("Dr Pepper"))
    assert(mixed.matchTokens(Array("Dr", "PEPPER")).toSeq === Seq("Dr Pepper"))
    assert(mixed.matchTokens(Array("dr", "pepper")).toSeq === Seq("empty")) // Text attr is exact
  }

  test("U2 overflow degrades instead of throwing under ANSI") {
    import org.apache.spark.sql.functions.col
    import spark2.implicits._
    val out = Seq("1e300", "3000M", "42").toDF("x")
      .select(graft.ops.Cleanse.parseKmNumber(col("x"))).as[Int].collect()
    assert(out(2) === 42)
    assert(out(0) === Int.MaxValue && out(1) === Int.MaxValue) // clamped
  }
  private lazy val spark2 = {
    val s = org.apache.spark.sql.SparkSession.builder()
      .master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    s
  }

  test("malformed timestamps parse to null, not ANSI exceptions") {
    import org.apache.spark.sql.functions.col
    import spark2.implicits._
    val out = Seq("Jun 5, 2020", "12h", "Jan 05, 1995")
      .toDF("x").select(graft.ops.Cleanse.parseTweetDate(col("x")).cast("string"))
      .as[Option[String]].collect()
    assert(out(1) === None)           // garbage → null (would throw before)
    assert(out(2) === Some("1995-01-05"))
  }

  test("structural: @mention and #hashtag emit surface") {
    assert(m.extract("ask @WaltonCoke about #needcalgon now").toSeq ===
      Seq("@WaltonCoke", "#needcalgon"))
  }

  test("dedupe + empty sentinel (ref demo.py:31-34)") {
    assert(m.matchTokens(Array("sort", "sort")).toSeq === Seq("Sort"))
    assert(m.matchTokens(Array("nothing", "here")).toSeq === Seq("empty"))
    assert(m.matchTokens(Array.empty[String]).toSeq === Seq("empty"))
  }
}

class SentimentSpec extends AnyFunSuite {
  test("lexicon average, [-1,1] range") {
    assert(Sentiment.score(Seq("good")) === 0.7)
    assert(Sentiment.score(Seq("good", "bad")) === 0.0)
    assert(Sentiment.score(Seq("nothing")) === 0.0)
  }
  test("negator flips ×-0.5 (pattern's rule)") {
    assert(Sentiment.score(Seq("not", "good")) === -0.35)
  }
  test("intensifier scales") {
    assert(Sentiment.score(Seq("very", "good")) === 0.91)
  }
  test("negation window 2: negator passes through an intensifier") {
    // "not very good": negator at i−2 through the intensifier → ×−0.5
    assert(Sentiment.score(Seq("not", "very", "good")) === -0.35)
    // a non-intensifier token BLOCKS the window
    assert(Sentiment.score(Seq("not", "the", "good")) === 0.7)
    // window is exactly 2 — three back does not negate
    assert(Sentiment.score(Seq("not", "very", "very", "good")) === 0.91)
  }
  test("case-insensitive lookup") {
    assert(Sentiment.score(Seq("GOOD")) === 0.7)
  }
}

/** Loader check against the real reference model file (skipped if the
  * reference tree isn't mounted). */
class PatternsLoadSpec extends graft.SparkSpec {
  private val path = "/root/reference/NER_model/entity_ruler/patterns.jsonl"

  test("loadPatternsJsonl handles the full spaCy pattern file") {
    assume(new java.io.File(path).exists())
    val pats = EntityRuler.loadPatternsJsonl(path)
    // 25,456 lines minus the 2 structural (Tag/Hashtag) patterns
    assert(pats.size > 25000)
    val m = new EntityRuler.Matcher(pats)
    // known patterns from the file: LOWER bigram with id, exact Brand
    assert(m.extract("add olive oil and Carrefour salt").toSeq
      .contains("Olive Oil"))
    assert(m.extract("Carrefour").toSeq === Seq("Carrefour"))
    // Brand patterns are case-sensitive (Text attr)
    assert(m.extract("I love carrefour").toSeq === Seq("empty"))
  }
}

/** The one Column scorer, graft.functions.SentimentScore, must be
  * value-equal to the Scala reference [[Sentiment.score]] on arbitrary
  * text under both tokenizations callers use — the regex tokenizer
  * (the pipeline, via sentimentColumnNative) and whitespace `split`
  * (q31/q39) — and must leave no UDF node in the plan. */
class SentimentNativeSpec extends graft.SparkSpec {
  import spark.implicits._
  import org.apache.spark.sql.functions.{col, size, split}
  import graft.functions.SentimentScore

  private val texts = Seq(
    "I love coke with lime",
    "this is really great!",       // punctuation adjacent to a hit
    "not good, very bad",
    "NOT GOOD",                    // case-insensitive negation
    "so   many    spaces",
    "don't like it",               // contraction negator
    "not very good at all",        // window-2 negation through intensifier
    "never really bad, honestly",  // window-2 with punctuation tokens
    "",                            // empty
    "@user #coke is awesome",      // structural tokens
    "barely sweet but extremely bitter",
    "  not good",                  // leading spaces
    "very good bad  ",             // trailing spaces
    "not  good, very  bad",        // doubled spaces inside the window
    null.asInstanceOf[String])

  private def scored = texts.zipWithIndex.toDF("text", "i").select(col("i"),
    Sentiment.sentimentColumnNative(col("text")).as("regex"),
    SentimentScore(split(col("text"), " ")).as("ws"),
    size(split(col("text"), " ")).as("ws_n"))

  test("SentimentScore == Sentiment.score under both tokenizations") {
    scored.collect().foreach { r =>
      val t = texts(r.getInt(0))
      val refRegex = Sentiment.score(Tokenizer.tokenize(t).toSeq)
      val refWs = if (t == null) 0.0 else Sentiment.score(t.split(" ").toSeq)
      assert(r.getDouble(1) === refRegex, s"regex tokens, text=[$t]")
      assert(r.getDouble(2) === refWs, s"whitespace tokens, text=[$t]")
    }
  }

  test("trailing empty tokens: Spark split keeps them, scores unchanged") {
    val t = "very good bad  "
    val r = scored.filter(col("i") === texts.indexOf(t)).collect().head
    // Java's split drops trailing empty strings, Spark's keeps them
    assert(t.split(" ").length === 3)
    assert(r.getInt(3) === 5)
    assert(r.getDouble(2) === Sentiment.score(Seq("very", "good", "bad")))
    assert(r.getDouble(2) === (700 * 1300 + -700 * 1000).toDouble / 2 / 1000000.0)
  }

  test("native scorer plan contains no UDF node") {
    val df = Seq("not good at all").toDF("text")
      .select(Sentiment.sentimentColumnNative(col("text")).as("s"))
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("UDF"), s"plan has a UDF node:\n$plan")
  }
}
