package graft.text

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** Text-analysis operators for a training-data pipeline (builder
  * brief: language-ID, quality scoring, token counting, document
  * fingerprinting) — all pure native Column expressions, codegen'd,
  * no UDFs, so they are SQL-expressible for the DuckDB oracle and
  * scale as narrow per-row maps.
  */
object TextStats {

  /** Whitespace token array. */
  def tokens(text: Column): Column = split(text, " ")

  /** Whitespace token count. */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: runs of letters, runs of digits, or a
    * single other non-space char — the classic pre-tokenizer shape. */
  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit("[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]"), lit(0)))

  /** Stopword-hit count against a small inline set. */
  def stopwordHits(toks: Column, stopwords: Seq[String]): Column = {
    val sw = array(stopwords.map(lit): _*)
    size(filter(toks, t => array_contains(sw, t)))
  }

  /** N-gram-heuristic language ID: score = stopword-set hits per
    * language, argmax with first-wins tiebreak (deterministic). */
  def langId(toks: Column, profiles: Seq[(String, Seq[String])]): Column = {
    val scored = profiles.map { case (lang, sw) => (lang, stopwordHits(toks, sw)) }
    // first language with score == max(scores), max>0; else "und"
    // (greatest() needs ≥2 args — degenerate single-profile case
    // short-circuits to that profile's score)
    val maxScore =
      if (scored.size == 1) scored.head._2
      else greatest(scored.map(_._2): _*)
    scored.reverse.foldLeft(lit("und")) { case (acc, (lang, sc)) =>
      when(sc === maxScore && maxScore > 0, lit(lang)).otherwise(acc)
    }
  }

  /** Quality score in [0,1000], integer-exact: length band, mean
    * token length band, distinct-token ratio band, plus a smooth
    * distinct-ratio term for within-band discrimination. All integer
    * arithmetic + one exact division — bit-stable cross-engine. */
  def qualityScoreMilli(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks)
    val nDist = size(array_distinct(toks))
    val lenBand = when(length(text) >= 200 && length(text) <= 2000, lit(350))
      .when(length(text) >= 50, lit(220))
      .otherwise(lit(40))
    val meanTokLenX10 = (length(text) * 10) / greatest(nTok, lit(1)) // ×10, fp division (exact operands)
    val tokBand = when(meanTokLenX10.between(35, 80), lit(250))
      .when(meanTokLenX10.between(20, 120), lit(170))
      .otherwise(lit(40))
    val distinctMilli = floor((nDist * 200) / greatest(nTok, lit(1))).cast("int") // 0..200 smooth term
    val distBand = when(distinctMilli >= 100, lit(200))
      .when(distinctMilli >= 40, lit(130))
      .otherwise(lit(50))
    lenBand + tokBand + distBand + distinctMilli
  }

  /** Document fingerprint (OpenRefine-style key collision): md5 of
    * the sorted distinct token bag. Rolling/positional variant below. */
  def fingerprint(text: Column): Column =
    md5(concat_ws(" ", array_sort(array_distinct(tokens(text)))))

  /** Polynomial rolling hash over the first `cap` tokens
    * (order-sensitive, unlike [[fingerprint]]):
    * h = (Σ (i+1)·(md5₆₀(tok_i) mod 2³¹−1)) mod 2³¹−1 — hashes token
    * CONTENT with a distinct per-position weight, so swapping any two
    * unequal tokens changes the hash (the former len(tok)·31^(i mod 8)
    * form was blind to content entirely — 'cat dog', 'dog cat' and
    * 'the fox' all collided — and its weights repeated every 8
    * positions). Integer-exact: each term ≤ 64·(2³¹−1) ≈ 1.4e11, the
    * capped sum ≤ 9e12, single mod at the end so stepwise order can't
    * matter. The cap bounds per-row work at scale. */
  def rollingHash(text: Column, cap: Int = 64): Column = {
    val M = 2147483647L
    val toks = slice(tokens(text), 1, cap)
    val weights = array((1 to cap).map(i => lit(i.toLong)): _*)
    val terms = zip_with(toks, weights, (t, w) =>
      when(t.isNull, lit(0L))
        .otherwise((graft.dedup.Dedup.md5Long(t) % M) * w))
    aggregate(terms, lit(0L), (acc, x) => acc + x) % M
  }

  /** Word n-gram shingles of the token array (native expression —
    * see graft.functions.WordShingles for why not the HOF form). */
  def shingles(toks: Column, n: Int): Column =
    graft.functions.WordShingles(toks, n)

  /** PII scrubbing (C4-style redaction): URLs then emails replaced by
    * placeholder tags. URL first — a URL can contain an @-path that
    * the email pattern would otherwise bite into. Patterns restricted
    * to the RE2 ∩ java.util.regex common subset (no lookaround, no
    * possessive quantifiers), so the DuckDB oracle runs the IDENTICAL
    * regexes. Pure narrow map, codegen'd. */
  val UrlRe = "https?://[^ ]+"
  val EmailRe = "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}"
  def scrubPii(text: Column): Column =
    regexp_replace(
      regexp_replace(text, UrlRe, "<URL>"),
      EmailRe, "<EMAIL>")

  /** Predecessor-shifted copy of a token array: element i is
    * toks[i-1], with the '' sentinel at position 0. */
  private def prevShift(toks: Column): Column =
    concat(array(lit("")),
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))))

  /** Remove CONSECUTIVE duplicate tokens (stutter removal, the cheap
    * form of repetition cleanup): each token is kept iff it differs
    * from its predecessor. The predecessor of the first token is the
    * '' sentinel of [[prevShift]], so a leading empty token — only
    * possible from leading/doubled separators — is dropped. */
  def dedupConsecutive(toks: Column): Column = {
    val zipped = zip_with(toks, prevShift(toks),
      (t, p) => struct(t.as("t"), p.as("p")))
    transform(filter(zipped, z => z.getField("t") =!= z.getField("p")),
      z => z.getField("t"))
  }
}
