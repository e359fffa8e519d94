package graft.functions

import scala.util.Try

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BindReferences, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
import org.apache.spark.sql.execution.WholeStageCodegenExec
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

/** KmNumber against the Column form of U2 it replaced, kept here as
  * the reference: every input that form evaluates gets the same
  * value, on the interpreted and the generated path, and every input
  * that form throws on gets the parse-failure value 0. */
class KmNumberSpec extends SparkSpec {
  import spark.implicits._

  /** The retired U2 body: trim, regex-gated casts per branch, clamp. */
  private def retired(c: Column): Column = {
    val numRe = "^\\s*[+-]?([0-9]+(\\.[0-9]*)?|\\.[0-9]+)([eE][+-]?[0-9]+)?\\s*$"
    def numOrNull(x: Column) = when(x.rlike(numRe), x.cast("double"))
    val t = trim(c)
    val kNum = numOrNull(regexp_replace(t, "[Kk]$", ""))
    val mNum = numOrNull(regexp_replace(t, "[Mm]$", ""))
    val raw =
      when(t.rlike("[Kk]$"), kNum * 1000)
        .when(t.rlike("[Mm]$"), mNum * 1000000)
        .otherwise(numOrNull(t))
    val clamped = when(raw.isNotNull,
      least(greatest(raw, lit(Int.MinValue.toDouble)), lit(Int.MaxValue.toDouble)))
    coalesce(clamped.cast("long"), lit(0L)).cast("int")
  }

  /** `f(x)` analyzed and bound to a one-string-column row. */
  private def bound(f: Column => Column): Expression = {
    val plan = Seq.empty[String].toDF("x").select(f(col("x"))).queryExecution.analyzed
    BindReferences.bindReference(plan.expressions.head, plan.children.head.output)
  }

  /** Per input: the interpreted and the generated value (None where
    * the evaluation throws). */
  private def evalBoth(f: Column => Column, xs: Seq[String]): Seq[(Option[Int], Option[Int])] = {
    val e = bound(f)
    val proj = GenerateUnsafeProjection.generate(Seq(e))
    xs.map { x =>
      val row = InternalRow(UTF8String.fromString(x))
      (Try(e.eval(row).asInstanceOf[Int]).toOption, Try(proj(row).getInt(0)).toOption)
    }
  }

  private val blanks = Seq("", " ", "  ", "\t", "\n", " \t", "\r\n")
  private val signs = Seq("", "+", "-")
  private val bodies = Seq("0", "5", "42", "007", "1.2", "23.7", ".5", "5.", "1.",
    "1e3", "1E-2", "2.5e+2", "1e300", "3000", "2147483647", "2147483648", "",
    ".", "e5", "1e", "--5", "1_000", "\u0661\u0662", "5a", "1.2.3")
  private val suffixes = Seq("", "K", "k", "M", "m", "KM", "kk", " K", "\tK", "\nK")
  private val tails = Seq("", " ", "\n", "\t", "\r\n", "\u2028", "\u0085", "\u00a0")

  private val generated: Seq[String] =
    for (b <- blanks; s <- signs; n <- bodies; k <- suffixes; t <- tails) yield b + s + n + k + t

  private val named = Seq("", "garbage", "KM", "K", "M", "1.2K", "3M", "23.7K",
    " 2 K", "5K\n", "1e300", "3000M", "-3000M", "5\u2028", "5\u0085", "n/a-7")

  test("equals the retired Column form on every input it evaluates, both paths") {
    val xs = named ++ generated
    var thrown = 0
    xs.lazyZip(evalBoth(retired, xs)).lazyZip(evalBoth(KmNumber(_), xs)).foreach {
      case (x, (oi, oc), (ni, nc)) =>
        def at = x.map(_.toInt)
        assert(oi === oc, s"retired form: paths differ on code points $at")
        assert(ni.isDefined && ni === nc, s"KmNumber: paths differ on code points $at")
        oi match {
          case Some(v) => assert(ni === Some(v), s"value differs on code points $at")
          case None => thrown += 1; assert(ni === Some(0), s"code points $at")
        }
    }
    // the comparison covers the throwing class, not only parseable input
    assert(thrown > 0)
  }

  test("documented values: suffixes after blanks, overflow clamps, null and garbage are 0") {
    val xs = Seq("5K\n", " 2 K", "1e300", "3000M", "-3000M", "1.5", "-1.5", "", "KM", "garbage")
    assert(evalBoth(KmNumber(_), xs).map(_._1.get) ===
      Seq(5000, 2000, Int.MaxValue, Int.MaxValue, Int.MinValue, 1, -1, 0, 0, 0))
    val e = bound(KmNumber(_))
    assert(e.eval(InternalRow(null)) === 0)
    assert(GenerateUnsafeProjection.generate(Seq(e)).apply(InternalRow(null)).getInt(0) === 0)
  }

  test("is non-nullable int and runs inside whole-stage codegen") {
    val x = when(col("id") === 0, "1.2K").when(col("id") === 2, "3M")
    val df = spark.range(3).select(KmNumber(x).as("n"))
    assert(!df.schema("n").nullable)
    assert(df.queryExecution.executedPlan.collect { case w: WholeStageCodegenExec => w }.nonEmpty)
    assert(df.as[Int].collect().sorted.toSeq === Seq(0, 1200, 3000000))
  }
}
