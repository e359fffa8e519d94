package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry

/** Pins the SQL-function surface (GraftExtensions/GraftFunctions):
  * resolution from SQL text, value parity with the Column API, the
  * literal-width contract, and the extension-injection wiring. */
class ExtensionsSpec extends SparkSpec {

  test("late-bound functions resolve from SQL and match the Column API") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1, Seq(1.0f, 2.0f), Seq("a", "b", "c", "d"), "hash join on spark"),
        (2, Seq(1.0f, 2.0f), Seq("a", "b", "c", "d"), null),
        (3, Seq(1.0f, 2.0f), Seq("a", "b", "c", "d"), ""))
      .toDF("id", "v", "toks", "text")
      .createOrReplaceTempView("ext_t")
    val rows = spark.sql(
      """SELECT array_dot(v, v) AS d,
                word_shingles(toks, 2) AS sh,
                ner_demo(text) AS topics
         FROM ext_t ORDER BY id""").collect()
    val row = rows(0)
    assert(row.getDouble(0) == 5.0)
    assert(row.getSeq[String](1) == Seq("a b", "b c", "c d"))
    assert(row.getSeq[String](2) == Seq("Hash Join", "Spark"))
    // a null text gives null topics; an empty one the sentinel
    assert(rows(1).isNullAt(2))
    assert(rows(2).getSeq[String](2) == Seq("empty"))
  }

  test("word_shingles rejects a non-literal width") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((Seq("a", "b"), 2)).toDF("toks", "n").createOrReplaceTempView("ext_bad")
    intercept[Exception] {
      spark.sql("SELECT word_shingles(toks, n) FROM ext_bad").collect()
    }
  }

  test("GraftExtensions injects every function description") {
    val ext = new SparkSessionExtensions
    new GraftExtensions().apply(ext)
    val reg = org.apache.spark.sql.GraftShims
      .buildFunctionRegistry(ext, FunctionRegistry.builtin.clone())
    for (n <- Seq("array_dot", "word_shingles", "ner_demo",
        "heavy_hitters", "chunk_text", "bloom_build", "bloom_might_contain",
        "countmin_build"))
      assert(reg.functionExists(FunctionIdentifier(n)), s"missing $n")
  }

  test("bloom SQL surface: build + probe round-trip, mBits must be literal") {
    GraftFunctions.register(spark)
    import spark.implicits._
    (1 to 100).map(i => s"k$i").toDF("k").createOrReplaceTempView("bloom_t")
    val hits = spark.sql(
      """SELECT count(*) AS n FROM bloom_t,
           (SELECT bloom_build(k, 65536) AS bits FROM bloom_t) f
         WHERE bloom_might_contain(f.bits, bloom_t.k, 65536)""").head().getLong(0)
    assert(hits == 100) // no false negatives, via pure SQL
    intercept[Exception] {
      spark.sql("SELECT bloom_build(k, length(k)) FROM bloom_t").collect()
    }
  }

  test("chunk_text generator matches the q75 sequence/slice composition") {
    GraftFunctions.register(spark)
    import spark.implicits._
    Seq((1L, "a b c d e"), (2L, ""), (3L, "x"))
      .toDF("doc_id", "text").createOrReplaceTempView("chunk_t")
    val gen = spark.sql(
      """SELECT doc_id, c.chunk_idx, c.chunk
         FROM chunk_t, LATERAL chunk_text(text, 3, 2) AS c""")
    val composed = spark.sql(
      """SELECT doc_id, CAST(p.pos AS INT) AS chunk_idx,
                concat_ws(' ', slice(w, start + 1, 3)) AS chunk
         FROM (SELECT doc_id, split(text, ' ') AS w FROM chunk_t),
              LATERAL posexplode(sequence(0, size(w) - 1, 2)) AS p(pos, start)""")
    assert(gen.collect().toSet == composed.collect().toSet)
    assert(gen.filter($"doc_id" === 1).count() == 3)
    assert(gen.filter($"doc_id" === 2).count() == 1) // '' → one empty token
  }
}
