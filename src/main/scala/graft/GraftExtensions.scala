package graft

import org.apache.spark.sql.{GraftShims, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Cast, Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Generate, LogicalPlan, OneRowRelation}
import org.apache.spark.sql.types.{ArrayType, DoubleType, IntegerType}

import graft.functions.{ArrayDot, BloomBuildAgg, BloomMightContain, ChunkText, CountMinAgg, HeavyHitters, NerExtract, UnicodeNormalize, WordShingles}
import graft.text.EntityRuler

/** SQL surface for graft's custom Catalyst expressions.
  *
  * The reference exposes its operators only through a host-language
  * API; a Spark-native engine should also surface them to plain
  * `spark.sql(...)` users. Two registration paths, same builders:
  *
  *   - [[GraftExtensions]] — the production path: set
  *     `spark.sql.extensions=graft.GraftExtensions` and every session
  *     built from that config has the functions (cluster-wide,
  *     per-session isolation handled by Spark).
  *   - [[GraftFunctions.register]] — the late-bind path for a session
  *     that already exists (e.g. the driver's Verify session, which
  *     graft does not construct): registers the same builders as
  *     temporary functions on that session only.
  *
  * Functions:
  *   - `array_dot(a, b)` — codegen'd dot product ([[ArrayDot]]);
  *     arguments are cast to array&lt;double&gt; exactly like the
  *     Column wrapper, so float embeddings are widened before the
  *     unsafe getDouble read.
  *   - `word_shingles(tokens, n)` — word n-gram shingling
  *     ([[WordShingles]]); `n` must be a foldable integer literal
  *     because the shingle width is a plan-time parameter.
  *   - `bloom_build(key, mBits)` / `bloom_might_contain(bits, key,
  *     mBits)` — the cross-corpus membership sketch
  *     ([[graft.functions.BloomBuildAgg]] /
  *     [[graft.functions.BloomMightContain]]); `mBits` is a plan-time
  *     literal for both, like the shingle width.
  *   - `countmin_build(key, depth, width)` — the Count-Min frequency
  *     sketch aggregate ([[graft.functions.CountMinAgg]]); estimates
  *     compose from built-ins (`least(element_at(...))`), so no probe
  *     function is registered.
  *   - `ner_demo(text)` — the dictionary NER trie matcher
  *     ([[NerExtract]]) over the committed demo pattern set
  *     (reference behavior: /root/reference/demo.py:24-35); the
  *     full-dictionary variant stays Column-API-only since a 25k-entry
  *     matcher should be constructed once and shared, not rebuilt per
  *     SQL function call site.
  */
object GraftFunctions {

  /** Matcher is built once per JVM and rides the expression into task
    * closures (serialized per stage, broadcast-sized: 9 patterns). */
  private lazy val demoMatcher: EntityRuler.Matcher =
    new EntityRuler.Matcher(graft.queries.TextQueries.demoPatterns)

  private def arity(name: String, args: Seq[Expression], n: Int): Unit =
    require(args.length == n, s"$name expects $n arguments, got ${args.length}")

  private def litInt(name: String, arg: String, e: Expression): Int = e match {
    case Literal(v: Int, IntegerType) => v
    case other if other.foldable =>
      other.eval() match {
        case i: Int  => i
        case l: Long =>
          try Math.toIntExact(l) catch {
            case _: ArithmeticException =>
              throw new IllegalArgumentException(
                s"$name: $arg $l is out of Int range")
          }
        case v =>
          throw new IllegalArgumentException(
            s"$name: $arg must be an integer literal, got $v")
      }
    case _ =>
      throw new IllegalArgumentException(
        s"$name: $arg must be foldable (a literal), got a column")
  }

  type FunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression)

  val all: Seq[FunctionDescription] = Seq(
    (FunctionIdentifier("array_dot"),
      new ExpressionInfo(classOf[ArrayDot].getName, "array_dot"),
      (args: Seq[Expression]) => {
        arity("array_dot", args, 2)
        ArrayDot(
          Cast(args(0), ArrayType(DoubleType)),
          Cast(args(1), ArrayType(DoubleType)))
      }),
    (FunctionIdentifier("word_shingles"),
      new ExpressionInfo(classOf[WordShingles].getName, "word_shingles"),
      (args: Seq[Expression]) => {
        arity("word_shingles", args, 2)
        WordShingles(args(0), litInt("word_shingles", "shingle width", args(1)))
      }),
    (FunctionIdentifier("ner_demo"),
      new ExpressionInfo(classOf[NerExtract].getName, "ner_demo"),
      (args: Seq[Expression]) => {
        arity("ner_demo", args, 1)
        GraftShims.eagerExpression(EntityRuler.nerColumn(demoMatcher)(GraftShims.column(args(0))))
      }),
    // generator: composes like explode (SELECT or LATERAL)
    (FunctionIdentifier("chunk_text"),
      new ExpressionInfo(classOf[ChunkText].getName, "chunk_text"),
      (args: Seq[Expression]) => {
        arity("chunk_text", args, 3)
        ChunkText(Cast(args(0), org.apache.spark.sql.types.StringType),
          litInt("chunk_text", "chunk", args(1)),
          litInt("chunk_text", "stride", args(2)))
      }),
    // aggregate: the analyzer wraps a bare AggregateFunction from the
    // registry in an AggregateExpression, same as the built-ins
    (FunctionIdentifier("heavy_hitters"),
      new ExpressionInfo(classOf[HeavyHitters].getName, "heavy_hitters"),
      (args: Seq[Expression]) => {
        arity("heavy_hitters", args, 3)
        HeavyHitters(Cast(args(0), org.apache.spark.sql.types.StringType),
          litInt("heavy_hitters", "k", args(1)),
          litInt("heavy_hitters", "capacity", args(2)))
      }),
    (FunctionIdentifier("bloom_build"),
      new ExpressionInfo(classOf[BloomBuildAgg].getName, "bloom_build"),
      (args: Seq[Expression]) => {
        arity("bloom_build", args, 2)
        BloomBuildAgg(Cast(args(0), org.apache.spark.sql.types.StringType),
          litInt("bloom_build", "mBits", args(1)))
      }),
    (FunctionIdentifier("countmin_build"),
      new ExpressionInfo(classOf[CountMinAgg].getName, "countmin_build"),
      (args: Seq[Expression]) => {
        arity("countmin_build", args, 3)
        CountMinAgg(Cast(args(0), org.apache.spark.sql.types.StringType),
          litInt("countmin_build", "depth", args(1)),
          litInt("countmin_build", "width", args(2)))
      }),
    (FunctionIdentifier("bloom_might_contain"),
      new ExpressionInfo(classOf[BloomMightContain].getName, "bloom_might_contain"),
      (args: Seq[Expression]) => {
        arity("bloom_might_contain", args, 3)
        BloomMightContain(args(0),
          Cast(args(1), org.apache.spark.sql.types.StringType),
          litInt("bloom_might_contain", "mBits", args(2)))
      }),
    // Unicode canonicalization (DuckDB spells the first one
    // nfc_normalize too — the SQL surface matches)
    (FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "nfc_normalize"),
      (args: Seq[Expression]) => {
        arity("nfc_normalize", args, 1)
        UnicodeNormalize(
          Cast(args(0), org.apache.spark.sql.types.StringType), nfkc = false)
      }),
    (FunctionIdentifier("nfkc_normalize"),
      new ExpressionInfo(classOf[UnicodeNormalize].getName, "nfkc_normalize"),
      (args: Seq[Expression]) => {
        arity("nfkc_normalize", args, 1)
        UnicodeNormalize(
          Cast(args(0), org.apache.spark.sql.types.StringType), nfkc = true)
      })
  )

  /** Table-function forms (FROM-clause / LATERAL position): the same
    * generators, wrapped in a Generate over OneRowRelation the way
    * Spark registers its own explode-family TVFs. */
  type TableFunctionDescription =
    (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)

  val allTable: Seq[TableFunctionDescription] = Seq(
    (FunctionIdentifier("chunk_text"),
      new ExpressionInfo(classOf[ChunkText].getName, "chunk_text"),
      (args: Seq[Expression]) => {
        arity("chunk_text", args, 3)
        Generate(
          ChunkText(Cast(args(0), org.apache.spark.sql.types.StringType),
            litInt("chunk_text", "chunk", args(1)),
            litInt("chunk_text", "stride", args(2))),
          unrequiredChildIndex = Nil, outer = false, qualifier = None,
          generatorOutput = Nil, child = OneRowRelation())
      })
  )

  /** Late-bind registration on an existing session (temp functions,
    * this session only). Idempotent — re-registration replaces. */
  def register(spark: SparkSession): Unit = {
    all.foreach { case (id, _, builder) =>
      GraftShims.registerTempFunction(spark, id.funcName, builder)
    }
    allTable.foreach { case (id, _, builder) =>
      GraftShims.registerTempTableFunction(spark, id.funcName, builder)
    }
  }
}

/** `spark.sql.extensions` entry point: injects the [[GraftFunctions]]
  * catalog, the [[graft.plans.GroupedTopKStrategy]] planner strategy,
  * and the [[graft.plans.WindowTopKRewrite]] optimizer rule into every
  * session built with this class configured. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    GraftFunctions.allTable.foreach(ext.injectTableFunction)
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
    ext.injectOptimizerRule(_ => graft.plans.WindowTopKRewrite)
  }
}
