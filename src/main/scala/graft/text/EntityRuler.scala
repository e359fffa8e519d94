package graft.text

import scala.collection.mutable

import org.apache.spark.sql.Column

/** Dictionary NER — the reference's one genuinely custom operator
  * (SURVEY.md §2.8): a spaCy-2.2 EntityRuler equivalent
  * (ref demo.py:24-35; NER_model/entity_ruler/patterns.jsonl,
  * 25,456 patterns) re-designed Spark-native as a broadcast phrase
  * trie.
  *
  * Matcher contract (pinned by specs, mirroring the reference):
  *  - `LOWER` token patterns match case-insensitively; `Text`/`ORTH`
  *    patterns match exact-case (ref patterns.jsonl attribute census:
  *    33,659 LOWER / 23,133 Text tokens).
  *  - Longest match wins at each position; ties go to the
  *    earliest-declared pattern (spaCy overlap resolution,
  *    NER_model/entity_ruler/cfg).
  *  - A match emits the pattern `id` if set, else the surface text
  *    (ref demo.py:28-29).
  *  - Structural rules: any `@mention` token emits its surface (Tag);
  *    `#` + ASCII word emits `#word` (Hashtag).
  *  - Result list is de-duplicated; empty ⇒ `["empty"]` sentinel
  *    (ref demo.py:31-34).
  *
  * Scale design: the trie is built once on the driver (~25k patterns
  * ⇒ a few MB) and broadcast; matching is a pure per-row function —
  * no shuffle, no per-executor rebuild, executes as a narrow map over
  * whatever partitioning the input already has.
  */
object EntityRuler {

  sealed trait TokPat { def text: String }
  /** case-insensitive token (spaCy LOWER) */
  final case class LowerTok(text: String) extends TokPat
  /** case-sensitive token (spaCy Text/ORTH) */
  final case class ExactTok(text: String) extends TokPat

  final case class Pattern(label: String, toks: Seq[TokPat], id: Option[String])

  private final class Node extends Serializable {
    val children = new mutable.HashMap[String, Node]
    /** (emit id if set, pattern declaration index, label) */
    var terminal: Option[(Option[String], Int, String)] = None
  }

  /** Serializable compiled matcher; build driver-side, use inside an
    * expression (Spark serializes it into the task closure once
    * per stage — equivalently broadcastable for very large tries).
    *
    * One trie with TYPED edges (an edge is either case-insensitive
    * "L"+lowered or exact-case "E"+text), so patterns mixing LOWER
    * and Text tokens match with per-token case rules exactly like
    * spaCy — a two-trie split would force a whole-pattern choice and
    * silently miss e.g. [Text "Dr", LOWER "pepper"] on "Dr Pepper".
    * The match walk keeps a frontier (both edge kinds can apply);
    * frontier width is bounded by patterns sharing a prefix with
    * different attrs — ~1 in practice. */
  final class Matcher(patterns: Seq[Pattern]) extends Serializable {
    private val root = new Node

    patterns.zipWithIndex.foreach { case (p, idx) =>
      val keys = p.toks.map {
        case LowerTok(t) => "L" + t.toLowerCase(java.util.Locale.ROOT)
        case ExactTok(t) => "E" + t
      }
      var n = root
      keys.foreach { k => n = n.children.getOrElseUpdate(k, new Node) }
      if (n.terminal.isEmpty || n.terminal.exists(_._2 > idx))
        n.terminal = Some((p.id, idx, p.label))
    }

    private def longestFrom(tokens: Array[String], lowered: Array[String],
                            start: Int): Option[(Int, Option[String], Int)] = {
      var frontier: List[Node] = root :: Nil
      var best: Option[(Int, Option[String], Int)] = None
      var i = start
      while (frontier.nonEmpty && i < tokens.length) {
        val next = frontier.flatMap { n =>
          n.children.get("E" + tokens(i)).toList :::
            n.children.get("L" + lowered(i)).toList
        }
        next.foreach(_.terminal.foreach { case (id, idx, _) =>
          val cand = (i - start + 1, id, idx)
          best = best match {
            case Some(b) if b._1 > cand._1 => Some(b)
            case Some(b) if b._1 == cand._1 && b._3 <= idx => Some(b)
            case _ => Some(cand)
          }
        })
        frontier = next
        i += 1
      }
      best
    }

    private val AsciiWord = "^[\\x00-\\x7F]+$".r

    /** Match a token array; returns de-duplicated topic list, or the
      * ["empty"] sentinel. */
    def matchTokens(tokens: Array[String]): Array[String] = {
      val lowered = tokens.map(_.toLowerCase(java.util.Locale.ROOT))
      val out = mutable.LinkedHashSet.empty[String]
      var i = 0
      while (i < tokens.length) {
        longestFrom(tokens, lowered, i) match {
          case Some((len, id, _)) =>
            out += id.getOrElse(tokens.slice(i, i + len).mkString(" "))
            i += len
          case None =>
            val t = tokens(i)
            if (t.length > 1 && t.charAt(0) == '@') { out += t; i += 1 }
            else if (t == "#" && i + 1 < tokens.length &&
              AsciiWord.findFirstIn(tokens(i + 1)).isDefined) {
              out += ("#" + tokens(i + 1)); i += 2
            } else i += 1
        }
      }
      if (out.isEmpty) Array("empty") else out.toArray
    }

    def extract(text: String): Array[String] =
      matchTokens(Tokenizer.tokenize(text))
  }

  /** Column form: tokenize + match as one scalar expression
    * (graft.functions.NerExtract). A null text gives a null array. */
  def nerColumn(matcher: Matcher)(text: Column): Column =
    graft.functions.NerExtract(text, matcher)

  /** Load spaCy EntityRuler patterns.jsonl (the reference's model
    * format) into [[Pattern]]s. Token attrs handled: LOWER, Text,
    * ORTH (case-sensitive attr names — the file mixes `Text` and a
    * structural `TEXT` regex, so this is a driver-side Jackson parse,
    * not spark.read.json, which is case-insensitive about columns).
    * Structural TEXT-regex / IS_ASCII rows are skipped here: the
    * matcher implements them natively. */
  def loadPatternsJsonl(path: String): Seq[Pattern] = {
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    val src = scala.io.Source.fromFile(path, "UTF-8")
    try {
      src.getLines().flatMap { line =>
        val node = mapper.readTree(line)
        // isTextual also on label/id: a JSON null would otherwise
        // stringify to the literal "null" via NullNode.asText
        val label = Option(node.get("label")).filter(_.isTextual)
          .map(_.asText).getOrElse("")
        val id = Option(node.get("id")).filter(_.isTextual).map(_.asText)
        Option(node.get("pattern")).toSeq.flatMap { patNode =>
          val toks: Seq[Option[TokPat]] =
            (0 until patNode.size()).map { i =>
              val t = patNode.get(i)
              def g(n: String): Option[String] =
                Option(t.get(n)).filter(_.isTextual).map(_.asText)
              g("LOWER").map(LowerTok).orElse(g("Text").map(ExactTok))
                .orElse(g("ORTH").map(ExactTok))
            }
          if (toks.nonEmpty && toks.forall(_.isDefined))
            Some(Pattern(label, toks.map(_.get), id))
          else None // structural / malformed rows: skip
        }
      }.toVector
    } finally src.close()
  }
}
