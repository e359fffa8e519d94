package graft.functions

import java.util.regex.{Matcher, Pattern}

import org.apache.spark.sql.{Column, GraftShims}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode, FalseLiteral}
import org.apache.spark.sql.catalyst.expressions.codegen.Block._
import org.apache.spark.sql.types.{DataType, IntegerType}
import org.apache.spark.unsafe.types.UTF8String

/** U2 `transformNumber` (ref demo.py:38-47) as one expression:
  * social-count strings — "1.2K"→1200, "3M"→3000000, plain
  * numerals→int, anything unparseable (null included)→0.
  *
  * Per row it trims once and runs each regex at most once. Written
  * as a Column of trims, regex gates and casts, the same contract
  * copied the trim into every CASE branch and ran up to ten regex
  * evaluations per value, and the three count columns made the
  * pipeline's enrich stage a generated method too large for the JIT.
  * Eval and codegen both call [[KmNumber.parse]], so the value cannot
  * change when the expression falls out of codegen. */
case class KmNumber(child: Expression) extends UnaryExpression {

  override def dataType: DataType = IntegerType

  override def nullable: Boolean = false

  override def eval(input: InternalRow): Any =
    KmNumber.parse(child.eval(input).asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val c = child.genCode(ctx)
    ev.copy(code = code"""
      ${c.code}
      int ${ev.value} =
        graft.functions.KmNumber.parse(${c.isNull} ? null : ${c.value});""",
      isNull = FalseLiteral)
  }

  override protected def withNewChildInternal(newChild: Expression): KmNumber =
    copy(child = newChild)
}

object KmNumber {

  private val KSuffix = Pattern.compile("[Kk]$")
  private val MSuffix = Pattern.compile("[Mm]$")

  /** Numeric-literal shape accepted by Python float() for the
    * purposes of U2 (sign, decimal, exponent; surrounding blanks). */
  private val NumRe =
    Pattern.compile("^\\s*[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?\\s*$")

  /** The U2 value of `s`.
    *  - Only spaces are trimmed (Spark's `trim`).
    *  - A `[Kk]$` or else `[Mm]$` suffix scales by 1e3 or 1e6. Java's
    *    `$` also matches before one final line terminator, so "5K\n"
    *    is 5000.
    *  - The rest must match `NumRe` and parse as a double, as Spark's
    *    string-to-double cast parses it (`Double.parseDouble`). A
    *    string whose `$` match sits before a terminator that parse
    *    does not trim ("5\u2028", "5\u0085") fails the parse: 0.
    *  - Failure is NaN internally, and the double-to-int conversion
    *    maps NaN to 0, truncates toward zero and clamps out-of-range
    *    values ("1e300", "3000M") to the int bounds. */
  def parse(s: UTF8String): Int = {
    if (s == null) return 0
    val t = s.trim().toString
    val k = KSuffix.matcher(t)
    val v =
      if (k.find()) number(dropMatch(t, k)) * 1000
      else {
        val m = MSuffix.matcher(t)
        if (m.find()) number(dropMatch(t, m)) * 1000000 else number(t)
      }
    v.toInt
  }

  /** `t` without the one suffix match `m` (a `[Kk]$`-style pattern
    * matches at most once). */
  private def dropMatch(t: String, m: Matcher): String =
    t.substring(0, m.start()) + t.substring(m.end())

  private def number(x: String): Double =
    if (!NumRe.matcher(x).find()) Double.NaN
    else try java.lang.Double.parseDouble(x)
    catch { case _: NumberFormatException => Double.NaN }

  def apply(c: Column): Column =
    GraftShims.column(KmNumber(GraftShims.expression(c.cast("string"))))
}
