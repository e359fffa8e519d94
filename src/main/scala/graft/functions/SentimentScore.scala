package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{DataType, DoubleType}

import graft.text.Sentiment

/** The lexicon sentiment scorer as a Catalyst expression over a token
  * array: one per-row pass of `Sentiment.score` (hashed lexicon
  * lookup, window-2 negator/intensifier rule, per-mille integer mean).
  * The caller picks the tokenization through the column it passes —
  * whitespace `split` for the SQL-mirrored q31/q39, the regex
  * tokenizer for the pipeline.
  *
  * Never null: a null or empty array has no lexicon hits and scores
  * 0.0, the same as a text with no hits. CodegenFallback, like
  * [[NerExtract]]: the per-row map lookups dwarf the dispatch cost.
  */
case class SentimentScore(child: Expression)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any = {
    val arr = child.eval(input).asInstanceOf[ArrayData]
    if (arr == null) 0.0
    else Sentiment.score(scala.collection.immutable.ArraySeq.unsafeWrapArray(
      Array.tabulate(arr.numElements()) { i =>
        if (arr.isNullAt(i)) null else arr.getUTF8String(i).toString
      }))
  }

  override protected def withNewChildInternal(newChild: Expression): SentimentScore =
    copy(child = newChild)
}

object SentimentScore {
  def apply(tokens: Column): Column =
    GraftShims.column(new SentimentScore(GraftShims.expression(tokens)))
}
