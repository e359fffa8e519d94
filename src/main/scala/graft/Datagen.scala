package graft

import java.io.File

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic scale-up of a driver testdata directory — the
  * round-9 sf1 certification tool (VERDICT r8 item 2: "one measured
  * decade converts the 100×-scale argument into evidence").
  *
  * `runMain graft.Datagen <srcDir> <dstDir> [factor]` replicates every
  * fact table `factor`× with per-replica key offsets, preserving the
  * invariants the query surface depends on:
  *
  *  - **Referential integrity per replica**: orders/customer/part/
  *    supplier/lineitem/events/documents/embeddings keys shift by
  *    `replica × stride` with strides larger than each key range, so
  *    replica r of lineitem joins replica r of orders/part/supplier
  *    exactly as the original does. region/nation are DIMENSIONS and
  *    stay fixed (as they would at any real scale).
  *  - **Residue classes**: every stride is divisible by 8, so the
  *    `l_orderkey % 8` co-order-graph subset (qB2/qE8/q11B) scales by
  *    exactly `factor` instead of drifting.
  *  - **Dedup structure**: naive replication would plant `factor`
  *    exact copies of every document — an artificial quadratic bomb
  *    for the pair-generating dedup family (each doc's replica group
  *    alone yields C(factor,2) pairs) and a trivial win for exact
  *    dedup. Replica text is instead MUTATED per replica (a
  *    deterministic ~1/3 of tokens get a replica suffix → shingle and
  *    token-set Jaccard vs the original ≈ 0.3, below every planted
  *    threshold), except a pinned 5% of docs (doc_id % 20 == 0) whose
  *    replicas append one token and stay NEAR-DUPs — the corpus keeps
  *    a realistic near-dup rate that grows linearly, not
  *    quadratically. n_chars is recomputed (the engine relies on
  *    n_chars == len(text)).
  *  - **Embedding geometry**: replica vectors get a deterministic
  *    per-dimension jitter (±1% scale) so ANN queries see `factor`×
  *    distinct points, not `factor`-fold ties at every distance.
  *
  * Everything is a pure Column program — no driver-side data, no
  * RNG state; the same inputs always produce byte-identical outputs.
  * Each table is written as a SINGLE parquet file named like the
  * driver's layout (`<dst>/<table>.parquet`), because the DuckDB
  * oracle path reads those exact file paths.
  */
object Datagen {

  /** key strides per replica — each > the sf0.1 key range and ≡ 0
    * (mod 8); generous headroom tolerates future testdata growth. */
  private val OrderStride = 1000000L
  private val CustStride = 100000L
  private val SuppStride = 10000L
  private val PartStride = 100000L
  private val EventStride = 1000000L
  private val UserStride = 10000L
  private val DocStride = 100000L
  private val VecStride = 100000L

  def main(args: Array[String]): Unit = {
    val src = args(0)
    val dst = args(1)
    val factor = if (args.length > 2) args(2).toInt else 10
    // match the testdata's parquet encoding (µs, not int96)
    val spark = graft.io.Scratch.session(extra = Map(
      "spark.sql.parquet.outputTimestampType" -> "TIMESTAMP_MICROS"))
    run(spark, src, dst, factor)
    spark.stop()
  }

  /** The generation itself, callable against an existing session
    * (DatagenSpec pins the invariants through this entry). */
  def run(spark: SparkSession, src: String, dst: String,
      factor: Int): Unit = {
    new File(dst).mkdirs()

    def read(t: String): DataFrame = spark.read.parquet(s"$src/$t.parquet")

    /** Stride guard (ADVICE r9): the hard-coded strides assume every
      * source key range sits below them — true for the driver's SF
      * dirs, silently FALSE when the tool is pointed at its own
      * output (sf1 orderkeys reach ~9.6M > OrderStride 1M), which
      * would overlap replica keys and corrupt the fixture with
      * inflated join fanout instead of failing. One cheap max()
      * aggregate per keyed table makes that loud. */
    def checkStrides(df: DataFrame, keys: (String, Long)*): DataFrame = {
      val maxes = df.agg(max(col(keys.head._1)).cast("long"),
        keys.tail.map { case (k, _) => max(col(k)).cast("long") }: _*).head()
      keys.zipWithIndex.foreach { case ((k, stride), i) =>
        val mx = maxes.getLong(i)
        require(mx < stride,
          s"Datagen: $k max $mx >= stride $stride — source keys too " +
            "large for the replica strides (is src already a scaled dir?)")
      }
      df
    }

    /** replica cross-product: one output row per (input row, replica). */
    def replicate(df: DataFrame): DataFrame =
      df.crossJoin(broadcast(
        spark.range(factor).select(col("id").as("__r"))))

    def shift(c: String, stride: Long) = col(c) + col("__r") * stride

    /** single-file write matching the driver's `<t>.parquet` layout. */
    def write(df: DataFrame, t: String): Unit = {
      val tmp = s"$dst/.__tmp_$t"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $t"))
      val target = new File(s"$dst/$t.parquet")
      if (target.exists()) target.delete()
      require(part.renameTo(target), s"rename failed for $t")
      new File(tmp).listFiles().foreach(_.delete())
      new File(tmp).delete()
      println(s"[datagen] $t -> ${target.getPath}")
    }

    // dimensions: verbatim
    write(read("region"), "region")
    write(read("nation"), "nation")

    write(replicate(checkStrides(read("customer"), "c_custkey" -> CustStride))
      .withColumn("c_custkey", shift("c_custkey", CustStride))
      .drop("__r"), "customer")

    write(replicate(checkStrides(read("supplier"), "s_suppkey" -> SuppStride))
      .withColumn("s_suppkey", shift("s_suppkey", SuppStride))
      .drop("__r"), "supplier")

    write(replicate(checkStrides(read("part"), "p_partkey" -> PartStride))
      .withColumn("p_partkey", shift("p_partkey", PartStride))
      .drop("__r"), "part")

    write(replicate(checkStrides(read("orders"),
      "o_orderkey" -> OrderStride, "o_custkey" -> CustStride))
      .withColumn("o_orderkey", shift("o_orderkey", OrderStride))
      .withColumn("o_custkey", shift("o_custkey", CustStride))
      .drop("__r"), "orders")

    write(replicate(checkStrides(read("lineitem"), "l_orderkey" -> OrderStride,
      "l_partkey" -> PartStride, "l_suppkey" -> SuppStride))
      .withColumn("l_orderkey", shift("l_orderkey", OrderStride))
      .withColumn("l_partkey", shift("l_partkey", PartStride))
      .withColumn("l_suppkey", shift("l_suppkey", SuppStride))
      .drop("__r"), "lineitem")

    write(replicate(checkStrides(read("events"),
      "event_id" -> EventStride, "user_id" -> UserStride))
      .withColumn("event_id", shift("event_id", EventStride))
      .withColumn("user_id", shift("user_id", UserStride))
      .drop("__r"), "events")

    // documents: replica 0 verbatim; 5% of docs stay near-dups (one
    // appended token); the rest SUFFIX ~1/3 of their token types with
    // a replica tag ((murmur3(token) + replica) % 3 == 0 → "<t>x<r>").
    // Suffixing — not a shared substitution pool — is load-bearing:
    // replica vocabularies are DISJOINT from each other, so
    // cross-replica and cross-doc similarity stays at or below the
    // original corpus's and every pair-generating family (LSH,
    // SimHash, token-set Jaccard) was MEASURED to scale ≈ linearly
    // with factor (q42 107k, q44 1.9M, q54 3.0M at factor 10 ≈ 10×
    // the sf0.1 counts). The rejected alternative — a fixed 16-word
    // substitution pool — kept global vocabulary flat but made the
    // pool words corpus-universal: every mutated doc shared half its
    // tokens with every other, inflating q44 4× and q54 5×
    // super-linearly. The suffix cost is bounded vocabulary growth
    // (×⌈factor/3⌉ token variants, 31 → 133 at factor 10), which the
    // vocabulary-shaped operators absorb (q7C's heavy-hitters
    // capacity covers the bigram space through factor 10; its comment
    // documents the knob for larger factors).
    // Jaccard numbers on this scheme: original-vs-replica ≈ 0.41,
    // cross-parity replicas ≈ 0.14 — below the planted 0.5 dedup
    // thresholds; the pinned 5% near-dups sit at ≈ 0.96.
    val docs = replicate(checkStrides(read("documents"), "doc_id" -> DocStride))
      .withColumn("text",
        when(col("__r") === 0, col("text"))
          .when(col("doc_id") % 20 === 0,
            concat(col("text"), lit(" dup"), col("__r")))
          .otherwise(array_join(
            transform(split(col("text"), " "), t =>
              when(pmod(hash(t) + col("__r"), lit(3)) === 0,
                concat(t, lit("x"), col("__r"))).otherwise(t)),
            " ")))
      .withColumn("doc_id", shift("doc_id", DocStride))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .drop("__r")
    write(docs, "documents")

    // embeddings: deterministic per-dimension jitter in [-0.01, 0.01)
    // for replicas > 0 — distinct points, same clusters/labels
    val emb = replicate(checkStrides(read("embeddings"), "vec_id" -> VecStride))
      .withColumn("embedding",
        when(col("__r") === 0, col("embedding"))
          .otherwise(transform(col("embedding"), (v, i) =>
            v + ((pmod(hash(col("vec_id"), i, col("__r")), lit(1000)) - 500)
              .cast("float") / lit(50000.0f)))))
      .withColumn("vec_id", shift("vec_id", VecStride))
      .drop("__r")
    write(emb, "embeddings")
  }
}
