package graft.functions

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.text.EntityRuler

/** The NER trie matcher as a Catalyst expression (the Expression
  * form of SURVEY.md §2.8), behind `EntityRuler.nerColumn`: eval
  * converts UTF8String → String once, runs the trie, and emits the
  * array directly — no per-call Row encode/decode.
  * CodegenFallback is fine — the per-row work (tokenize + trie walk)
  * dwarfs the dispatch cost, unlike the ArrayDot inner loop.
  *
  * The compiled matcher rides the expression into the task closure
  * (serialized once per stage, like a broadcast for this size).
  */
case class NerExtract(child: Expression, matcher: EntityRuler.Matcher)
    extends UnaryExpression with CodegenFallback {

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def nullSafeEval(input: Any): Any = {
    val topics = matcher.extract(input.asInstanceOf[UTF8String].toString)
    new GenericArrayData(topics.map(t => UTF8String.fromString(t): Any))
  }

  override protected def withNewChildInternal(newChild: Expression): NerExtract =
    copy(child = newChild)
}

object NerExtract {
  def apply(text: Column, matcher: EntityRuler.Matcher): Column =
    GraftShims.column(new NerExtract(GraftShims.expression(text), matcher))
}
