package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.similarity.Similarity

/** ANN recall/latency evaluation (round-10, VERDICT r9 item 6): every
  * approximate method answers the SAME task — top-10 cosine
  * neighbors for query vectors vec_id 0..7 — and is scored as
  * recall@10 against the exact brute-force result, with wall time per
  * method. This is the evidence behind the 100 TB ANN-path choice:
  * the query surface itself (q46/q48/qCA/qCE) pins correctness of
  * each method's own contract; this main compares their QUALITY at a
  * common budget.
  *
  * `runMain graft.AnnEval <sfDir>` → one JSON line per method plus a
  * summary line (committed to BASELINE.md per round).
  *
  * int8's recall is measured against cosine truth although it ranks
  * by raw integer dot — its number folds together quantization loss
  * AND the dot-vs-cosine metric gap, which is exactly what a user
  * swapping it in would experience on unnormalized embeddings.
  */
object AnnEval {

  private val NQueries = 8
  private val K = 10

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0)
      else sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.io.Scratch.session()

    val emb = graft.io.Sources.table(spark, sfDir, "embeddings")
    emb.count() // warm the file scan outside every measured window

    // (qid, nn_id) truth set: exact cosine top-10 per query
    val (truth, truthS) = timed {
      (0L until NQueries).flatMap { qid =>
        Similarity.bruteForceTopKById(emb, "vec_id", "embedding", qid, K)
          .collect().map(r => (qid, r.getLong(0)))
      }.toSet
    }

    def recallOf(rows: Seq[(Long, Long)]): Double =
      rows.count(truth.contains).toDouble / truth.size

    val methods: Seq[(String, () => Seq[(Long, Long)])] = Seq(
      "ivf_first_k" -> (() => (0L until NQueries).flatMap { qid =>
        Similarity.ivfTopK(emb, "vec_id", "embedding", qid,
          kCentroids = 16, nProbe = 4, topK = K)
          .collect().map(r => (qid, r.getLong(0)))
      }),
      "ivf_lloyd3" -> (() => (0L until NQueries).flatMap { qid =>
        Similarity.ivfTopK(emb, "vec_id", "embedding", qid,
          kCentroids = 16, nProbe = 4, topK = K, trainIters = 3)
          .collect().map(r => (qid, r.getLong(0)))
      }),
      "lsh_single_probe" -> (() => lshSingleProbe(emb)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq),
      "lsh_multi_probe" -> (() =>
        Similarity.multiProbeTopK(emb, "vec_id", "embedding",
          nQueries = NQueries, numPlanes = 8, k = K)
          .select("qid", "nn_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq),
      "int8_dot" -> (() =>
        Similarity.int8TopK(emb, "vec_id", "embedding",
          nQueries = NQueries, k = K)
          .select("qid", "nn_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    )

    def num(v: Double, scale: Int): String =
      String.format(java.util.Locale.ROOT, s"%.${scale}f", Double.box(v))

    println(s"""{"method":"brute_force_truth","recall_at_10":1.0,"wall_s":${num(truthS, 2)},"n_queries":$NQueries,"sf":"$sfDir"}""")
    val rows = scala.collection.mutable.ArrayBuffer.empty[(String, Double, Double)]
    // Caveats that must travel WITH the artifact (VERDICT r12 item 3:
    // a reader of the JSON alone concluded the quantizer was broken).
    val notes = Map(
      "int8_dot" -> ("8-bit resolution floor, not a quantizer bug: " +
        "rank discrimination needs neighbor cosine gaps above the " +
        "~0.8%/dim quantization step; the replica fixture jitters " +
        "copies by ±1%, so at sf10 a query's ~100 replica neighbors " +
        "are closer than the step and NO 8-bit code can order them. " +
        "Per-vector scaling holds recall 0.975 at sf1 where gaps " +
        "exceed the step (ANN_EVAL_SF1.json); see also " +
        "SimilaritySpec's margin-separated recall floor."))
    methods.foreach { case (name, run) =>
      val (res, s) = timed(run())
      val r = recallOf(res)
      val note = notes.get(name)
        .map(n => s""","note":"$n"""").getOrElse("")
      println(s"""{"method":"$name","recall_at_10":${num(r, 3)},"wall_s":${num(s, 2)},"n_queries":$NQueries,"sf":"$sfDir"$note}""")
      rows += ((name, r, s))
    }

    // --- batch forms (round 12): the task is the SAME 8 queries, but
    // methods may batch/amortize. brute_batch is the fair one-job
    // baseline (the per-query brute loop above pays 8 job overheads);
    // ivf_batch builds the index ONCE (timed separately — that cost
    // amortizes across query batches in a serving system) and answers
    // the whole batch from it. break_even_batches = how many 8-query
    // batches until the index pays for itself vs brute_batch.
    val (bbRes, bbS) = timed(bruteBatch(emb)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq)
    val bbR = recallOf(bbRes)
    println(s"""{"method":"brute_batch","recall_at_10":${num(bbR, 3)},"wall_s":${num(bbS, 2)},"n_queries":$NQueries,"sf":"$sfDir"}""")
    rows += (("brute_batch", bbR, bbS))
    Seq((16, 4), (64, 8), (128, 8)).foreach { case (kc, np) =>
      val name = s"ivf_batch_k${kc}p$np"
      val (cents, assignedPlan) =
        Similarity.ivfAssign(emb, "vec_id", "embedding", kc)
      // the pin is eager: buildS times the one materialization job
      val (assigned, buildS) = timed(
        graft.io.CheckpointStrategy.EagerLocal.session("ivf").pin(assignedPlan))
      val (res, qS) = timed {
        Similarity.ivfBatchTopK(cents, assigned, NQueries, np, K)
          .select("qid", "nn_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      }
      val r = recallOf(res)
      val breakEven =
        if (bbS > qS) buildS / (bbS - qS) else Double.PositiveInfinity
      val be = if (breakEven.isInfinity) "null" else num(breakEven, 1)
      println(s"""{"method":"$name","recall_at_10":${num(r, 3)},"wall_s":${num(qS, 2)},"index_build_s":${num(buildS, 2)},"break_even_batches":$be,"n_queries":$NQueries,"sf":"$sfDir"}""")
      rows += ((name, r, qS))
      assigned.unpersist(blocking = true)
    }

    val summary = rows.map { case (n, r, s) =>
      s""""$n":{"recall":${num(r, 3)},"wall_s":${num(s, 2)}}""" }
      .mkString("{", ",", "}")
    println(s"""{"metric":"ann_eval","truth_wall_s":${num(truthS, 2)},"methods":$summary,"k":$K,"n_queries":$NQueries,"sf":"$sfDir"}""")
    spark.stop()
  }

  /** Own-bucket-only hyperplane LSH + exact re-rank — the single-
    * probe baseline multi-probe is compared against (same index,
    * 1/9th the probes). */
  private def lshSingleProbe(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb.select(col("vec_id").as("id"), col("embedding").as("raw"),
        Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm2(col("v")))
      .filter(col("nrm") > 0)
      .withColumn("bucket", Similarity.lshBucket(col("raw"), 8))
      .select(col("id"), col("v"), col("nrm"), col("bucket"))
    val q = e.filter(col("id") < NQueries)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"),
        col("bucket"))
    e.join(broadcast(q), Seq("bucket"))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nn_id"),
        (Similarity.dot(col("qv"), col("v")) / (col("nrm") * col("qn"))).as("cos"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("nn_id").asc)))
      .filter(col("rn") <= K)
      .select("qid", "nn_id")
  }

  /** One-job exact batch baseline: broadcast the NQueries query rows,
    * score the corpus once, per-qid top-k window — what brute force
    * looks like when it, too, is allowed to batch. */
  private def bruteBatch(emb: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val e = emb.select(col("vec_id").as("id"),
        Similarity.asDouble(col("embedding")).as("v"))
      .withColumn("nrm", Similarity.norm2(col("v")))
      .filter(col("nrm") > 0)
    val q = e.filter(col("id") < NQueries)
      .select(col("id").as("qid"), col("v").as("qv"), col("nrm").as("qn"))
    e.crossJoin(broadcast(q))
      .filter(col("id") =!= col("qid"))
      .select(col("qid"), col("id").as("nn_id"),
        (Similarity.dot(col("qv"), col("v")) / (col("nrm") * col("qn"))).as("cos"))
      .withColumn("rn", row_number().over(Window.partitionBy("qid")
        .orderBy(col("cos").desc, col("nn_id").asc)))
      .filter(col("rn") <= K)
      .select("qid", "nn_id")
  }

  private def timed[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }
}
