package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.col

import graft.queries.TextQueries

/** Pinned tokenization corpus — 56 adversarial tweets covering the
  * edge classes the NER matcher (q30/q38) and the text-stats family
  * depend on: URLs, emoji (astral-plane code points), apostrophe
  * contractions, #/@ structural splits, mentions with trailing
  * possessives, non-ASCII letters, mixed alphanumerics, and
  * whitespace forms.
  *
  * The tokenizer APPROXIMATES spaCy's rules (the reference's
  * serialized `NER_model/tokenizer` regexes are not exactly
  * reproducible — SURVEY.md §5); what this spec pins is the CURRENT
  * approximation, so any future edit that shifts q30/q38 semantics
  * fails here loudly with the exact string that moved, instead of
  * surfacing as a silent oracle hash drift. Contract highlights
  * enforced by the corpus:
  *  - `@word` mentions stay whole; a bare `@` or non-ASCII follower
  *    splits (`@@double` → `@`,`@double`; `@üser` → `@`,`ü`,`ser`);
  *  - `#` is ALWAYS its own token (hashtag = `#`,`word` — the shape
  *    of the reference's Hashtag pattern, patterns.jsonl);
  *  - one-level apostrophe contractions attach (`don't`, `O'Brien`)
  *    but digit-led ones don't (`12'30` → `12`,`'`,`30`);
  *  - every other non-word char is a single-char token (so URLs
  *    shatter — language-ID and quality scoring count on that);
  *  - astral-plane emoji are ONE token per code point, never split
  *    into surrogate halves.
  *
  * The corpus runs through both forms: the Scala reference
  * `Tokenizer.tokenize` and `Tokenizer.tokenizeColumn`, the one form
  * engine code runs. NER over the Column tokens must equal the
  * reference matcher walk over the reference tokens.
  */
class TokenizerFidelitySpec extends graft.SparkSpec {
  import spark.implicits._

  private val pinned: Seq[(String, Seq[String])] = Seq(
    ("Hello, world!",
      Seq("Hello", ",", "world", "!")),
    ("@user123 rocks",
      Seq("@user123", "rocks")),
    ("#AI is the future",
      Seq("#", "AI", "is", "the", "future")),
    ("don't stop believing",
      Seq("don't", "stop", "believing")),
    ("can't won't shouldn't",
      Seq("can't", "won't", "shouldn't")),
    ("rock 'n' roll",
      Seq("rock", "'", "n", "'", "roll")),
    ("https://t.co/Ab3xYz now",
      Seq("https", ":", "/", "/", "t", ".", "co", "/", "Ab3xYz", "now")),
    ("http://example.com/path?q=1&r=2",
      Seq("http", ":", "/", "/", "example", ".", "com", "/", "path", "?", "q", "=", "1", "&", "r", "=", "2")),
    ("RT @alice: #ML rocks!!",
      Seq("RT", "@alice", ":", "#", "ML", "rocks", "!", "!")),
    ("email me at foo@bar.com",
      Seq("email", "me", "at", "foo", "@bar", ".", "com")),
    ("O'Brien's book",
      Seq("O'Brien", "'", "s", "book")),
    ("y'all ready",
      Seq("y'all", "ready")),
    ("'tis the season",
      Seq("'", "tis", "the", "season")),
    ("U.S.A. vs U.K.",
      Seq("U", ".", "S", ".", "A", ".", "vs", "U", ".", "K", ".")),
    ("state-of-the-art e-mail",
      Seq("state", "-", "of", "-", "the", "-", "art", "e", "-", "mail")),
    ("3.14 is pi",
      Seq("3", ".", "14", "is", "pi")),
    ("$5.99 or 100%",
      Seq("$", "5", ".", "99", "or", "100", "%")),
    (":) :( ;-) :-P",
      Seq(":", ")", ":", "(", ";", "-", ")", ":", "-", "P")),
    ("wait... what?!?",
      Seq("wait", ".", ".", ".", "what", "?", "!", "?")),
    ("a_b_c under_score",
      Seq("a_b_c", "under_score")),
    ("caf\u00e9 na\u00efve",
      Seq("caf", "\u00e9", "na", "\u00ef", "ve")),
    ("\ud83d\udd25\ud83d\udd25 fire",
      Seq("\ud83d\udd25", "\ud83d\udd25", "fire")),
    ("emoji \ud83d\ude02 mid",
      Seq("emoji", "\ud83d\ude02", "mid")),
    ("#ai #ml #nlp",
      Seq("#", "ai", "#", "ml", "#", "nlp")),
    ("@@double at",
      Seq("@", "@double", "at")),
    ("# lone hash",
      Seq("#", "lone", "hash")),
    ("@ lone at",
      Seq("@", "lone", "at")),
    ("@user's stuff",
      Seq("@user", "'", "s", "stuff")),
    ("I'm2 busy",
      Seq("I'm", "2", "busy")),
    ("12'30 split",
      Seq("12", "'", "30", "split")),
    ("don't'can chain",
      Seq("don't", "'", "can", "chain")),
    ("\u4f60\u597d world",
      Seq("\u4f60", "\u597d", "world")),
    ("tabs\tand\nnewlines",
      Seq("tabs", "and", "newlines")),
    ("(parens) [brackets] {braces}",
      Seq("(", "parens", ")", "[", "brackets", "]", "{", "braces", "}")),
    ("quote \"inside\" 'single'",
      Seq("quote", "\"", "inside", "\"", "'", "single", "'")),
    ("semi;colon:comma,dot.",
      Seq("semi", ";", "colon", ":", "comma", ",", "dot", ".")),
    ("multi  space   gaps",
      Seq("multi", "space", "gaps")),
    ("CamelCase and UPPER lower",
      Seq("CamelCase", "and", "UPPER", "lower")),
    ("numbers 123 456_789",
      Seq("numbers", "123", "456_789")),
    ("mixed1alpha2num",
      Seq("mixed1alpha2num")),
    ("trailing hash #",
      Seq("trailing", "hash", "#")),
    ("hash#inline tag",
      Seq("hash", "#", "inline", "tag")),
    ("at@inline sign",
      Seq("at", "@inline", "sign")),
    ("slash/and\\backslash",
      Seq("slash", "/", "and", "\\", "backslash")),
    ("plus+minus-equals=",
      Seq("plus", "+", "minus", "-", "equals", "=")),
    ("tilde~grave`caret^",
      Seq("tilde", "~", "grave", "`", "caret", "^")),
    ("2017-12 month tag",
      Seq("2017", "-", "12", "month", "tag")),
    ("RT @b0t_: #Trend2020 \ud83d\ude80 https://t.co/xyz",
      Seq("RT", "@b0t_", ":", "#", "Trend2020", "\ud83d\ude80", "https", ":", "/", "/", "t", ".", "co", "/", "xyz")),
    ("it's the company's CEO's plan",
      Seq("it's", "the", "company's", "CEO's", "plan")),
    ("ain't nobody",
      Seq("ain't", "nobody")),
    ("l33t h4x0r",
      Seq("l33t", "h4x0r")),
    ("snake_case_id mixedCase-id",
      Seq("snake_case_id", "mixedCase", "-", "id")),
    ("#\u00fcber non-ascii hashtag",
      Seq("#", "\u00fc", "ber", "non", "-", "ascii", "hashtag")),
    ("@\u00fcser non-ascii mention",
      Seq("@", "\u00fc", "ser", "non", "-", "ascii", "mention")),
    ("A man, a plan, a canal: Panama",
      Seq("A", "man", ",", "a", "plan", ",", "a", "canal", ":", "Panama")),
    ("doesn't it's we're they've I'd you'll",
      Seq("doesn't", "it's", "we're", "they've", "I'd", "you'll")),
    ("", Seq.empty),
    (null, Seq.empty)
  )

  test(s"corpus of ${pinned.size} pinned tokenizations holds exactly") {
    val diffs = pinned.flatMap { case (input, expect) =>
      val got = Tokenizer.tokenize(input).toSeq
      if (got == expect) None
      else Some(s"input <$input>\n  expected: $expect\n  got     : $got")
    }
    assert(diffs.isEmpty, "tokenizer drift:\n" + diffs.mkString("\n"))
  }

  /** `texts` as a frame (`i`, `text`) through `f`, back as an `i`-indexed map. */
  private def perText(texts: Seq[String])(f: Column => Column): Map[Int, Option[Seq[String]]] =
    texts.zipWithIndex.toDF("text", "i").select(col("i"), f(col("text"))).collect()
      .map(r => r.getInt(0) -> Option(r.getSeq[String](1))).toMap

  test("the Column tokenizer gives the pinned tokens; a null text gives a null array") {
    val got = perText(pinned.map(_._1))(Tokenizer.tokenizeColumn)
    val diffs = pinned.zipWithIndex.flatMap { case ((input, expect), i) =>
      val want = if (input == null) None else Some(expect)
      if (got(i) == want) None
      else Some(s"input <$input>\n  expected: $want\n  got     : ${got(i)}")
    }
    assert(diffs.isEmpty, "Column tokenizer drift:\n" + diffs.mkString("\n"))
  }

  test("nerColumn equals the matcher over the reference tokens; a null text gives null") {
    import EntityRuler._
    val mixed = new Matcher(Seq(
      Pattern("Brand", Seq(ExactTok("Dr"), LowerTok("pepper")), Some("Dr Pepper"))))
    // TextSpec's NER texts: matcher cases joined back into text
    val nerTexts = Seq("ask @WaltonCoke about #needcalgon now", "sort merge x",
      "sort x merge", "HASH Join", "spark", "Spark", "SPARK", "stream", "STREAM",
      "Dr Pepper", "Dr PEPPER", "dr pepper", "sort sort", "nothing here",
      "hash join on spark", "I love coke with lime")
    val texts = pinned.map(_._1) ++ nerTexts
    assert(texts.contains(null) && texts.contains(""))
    for (m <- Seq(new Matcher(TextQueries.demoPatterns), mixed)) {
      val got = perText(texts)(EntityRuler.nerColumn(m))
      texts.zipWithIndex.foreach { case (t, i) =>
        val want = Option(t).map(s => m.matchTokens(Tokenizer.tokenize(s)).toSeq)
        assert(got(i) === want, s"text <$t>")
      }
    }
  }

  test("emoji tokens round-trip as full code points, not surrogate halves") {
    val toks = Tokenizer.tokenize("🔥 x")
    assert(toks.head.codePointCount(0, toks.head.length) == 1)
    assert(toks.head.length == 2) // one astral code point = 2 UTF-16 units
  }
}
