package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions.{lit, regexp_extract_all}

/** Regex tokenizer approximating spaCy's English rules for the NER
  * matcher (SURVEY.md §2.8; ref NER_model/tokenizer): punctuation is
  * split off word edges, `@word` mentions stay whole, `#` is its own
  * token (so a hashtag is the token pair `#`,`word` — exactly the
  * shape the reference's Hashtag pattern `[{ORTH:"#"},{IS_ASCII:true}]`
  * expects), simple apostrophe contractions stay attached.
  *
  * Exact spaCy-tokenizer parity is a non-goal (the reference's golden
  * outputs are irreproducible anyway, SURVEY.md §5); the matcher
  * contract is what's tested.
  */
object Tokenizer {

  /** The token pattern, shared by both forms below (both run
    * java.util.regex, so they split any text identically). */
  val Pattern: String =
    "@[A-Za-z0-9_]+|[A-Za-z0-9_]+(?:'[A-Za-z]+)?|[^A-Za-z0-9_\\s]"

  private val Tok = Pattern.r

  def tokenize(text: String): Array[String] =
    if (text == null) Array.empty
    else Tok.findAllIn(text).toArray

  /** Column twin of [[tokenize]]; a null text gives a null array. */
  def tokenizeColumn(text: Column): Column =
    regexp_extract_all(text, lit(Pattern), lit(0))
}
