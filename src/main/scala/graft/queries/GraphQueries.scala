package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources.table
import graft.io.Staging

/** Graph analytics over relational edge lists — PageRank as the
  * representative iterative-propagation workload (the web-scale
  * centrality measure of Page et al., and the canonical "does your
  * engine do iterative joins well" test). Design notes:
  *
  *  - **Fixed-point integer arithmetic.** Ranks live in millionths
  *    (r0 = 1,000,000); each step is `150000 + (85 · Σ floor(r/deg))
  *    div 100` — the standard d=0.85 update with every operation an
  *    exact integer op. Floating-point PageRank cannot hash-check
  *    across engines (Σ over in-neighbors is order-sensitive in IEEE);
  *    integer Σ is associative, so the same construction that makes
  *    the oracle exact also makes the distributed sum
  *    partition-layout-invariant.
  *  - **Scale shape.** Per iteration: one join (edges ⋈ ranks on src —
  *    ranks is the small, shrinking side only at toy scale; at 100 TB
  *    both sides shuffle on src) and one groupBy(dst) with map-side
  *    partial sums. Degrees are joined ONCE outside the loop and the
  *    (src, dst, deg) edge view is localCheckpoint'd — the loop
  *    re-reads a materialized edge list, not the orders⋈lineitem
  *    lineage, mirroring [[graft.dedup.Components]].
  *  - **Hub skew.** AQE's skew-join split does NOT cover this join
  *    (the ranks side is aggregate-fed, and the checkpointed edge
  *    view co-locates each hub's rows into one mapper — both shapes
  *    defeat OptimizeSkewedJoin; GraphSkewSpec pins them). The
  *    mitigation is the `salts` parameter: [[graft.ops.Skew.saltedJoin]]
  *    spreads a power-law hub over `salts` reducers with bit-identical
  *    ranks. Off by default — at bench scale the hubs fit one reducer
  *    comfortably and the replicated ranks side costs more than the
  *    skew; turn it on where one supplier touches a visible fraction
  *    of all customers.
  *  - **Convergence is bounded, not detected**: a fixed 3 iterations
  *    (unrolled in the oracle as chained CTEs). Production PageRank
  *    iterates to an L1 threshold; a fixed budget keeps the plan
  *    static and the oracle finite, and 3 rounds already separate the
  *    hub suppliers from the tail.
  */
object GraphQueries extends QueryModule {

  /** Damping in percent and the fixed-point base. */
  private val DampPct = 85
  private val Base = 1000000L
  private val Iters = 3

  /** Fixed-point integer PageRank over a DIRECTED edge list (pass
    * both directions for an undirected graph). Every node must
    * appear as a src (deg ≥ 1) — true by construction for
    * both-direction lists. The edge list is localCheckpoint'd once;
    * deg, the (src, dst, deg) view, and r0 all derive from the
    * materialized frame, so the caller's build lineage runs exactly
    * once. Returns (node, rank) with rank in millionths; the update
    * is r' = 0.15·Base + ⌊0.85 · Σ ⌊r/deg⌋⌋ in exact integer ops, so
    * the distributed Σ is partition-invariant (ScaleSmokeSpec pins
    * the closed form on a ring graph). */
  def pageRank(directedEdges: DataFrame, iters: Int = Iters,
      ckpt: graft.io.CheckpointStrategy =
        graft.io.CheckpointStrategy.EagerLocal,
      salts: Int = 0): DataFrame = {
    val mat = ckpt.session("pagerank")
    val edges = mat.pin(directedEdges)
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
    val ed = mat.pin(edges.join(deg, "src"))
    var ranks = deg.select(col("src").as("node"), lit(Base).as("rank"))
    for (_ <- 1 to iters) {
      // cs accumulates in decimal(38,0): total rank mass is n·Base, so
      // 85·cs crosses 2^63 near 1e11 nodes where the oracle's HUGEINT
      // sum() survives — decimal keeps both engines on one arithmetic;
      // the per-iteration rank itself stays a BIGINT (≤ mass ≈ 1e17)
      val contrib =
        if (salts > 0)
          // hub mitigation (see the Hub-skew note above): salt the
          // edge side by dst, replicate the slim ranks side ×salts
          graft.ops.Skew.saltedJoin(ed,
            ranks.withColumnRenamed("node", "src"), "src", col("dst"), salts)
        // shuffle_hash on the slim ranks side (r15 opt): the default
        // SortMergeJoin SORTED the full edge view every iteration;
        // hashing the per-partition ranks build side is sort-free and
        // estimate-independent (guide §3.1, the qB4 pin precedent).
        // At scale ranks/partition is nodes/width — bounded by the
        // same partition sizing every shuffle already needs.
        else ed.join(ranks.hint("shuffle_hash"),
          ed("src") === ranks("node"))
      ranks = contrib
        .select(col("dst"), expr("rank div deg").as("c"))
        .groupBy("dst")
        .agg(sum(col("c").cast("decimal(38,0)")).as("cs"))
        .select(col("dst").as("node"),
          (lit(Base * 15 / 100) + expr(s"($DampPct * cs) div 100")).as("rank"))
    }
    ranks
  }

  /** The part co-order edge list (deterministic 1-in-8 order subset,
    * distinct undirected pairs p1 < p2) shared VERBATIM by qB2 / qE8 /
    * q11B — at 100 TB a graph pipeline materializes its edge list once
    * and every downstream analytic (triangles, cores, link prediction)
    * scans the materialized copy; recomputing the lineitem self-join
    * per query mis-models that pipeline exactly the way the q74/qA1
    * LSH pair build did before round 7 staged it. Staged once as a
    * parquet [[graft.io.Staging.Fixture]]. */
  private val coorderEdges =
    Staging.fixture("coorder_edges", "parquet") { (s, dir, out) =>
      val li = table(s, dir, "lineitem")
        .where(col("l_orderkey") % 8 === 0)
        .select(col("l_orderkey").as("ok"), col("l_partkey").as("p"))
      val edges = li.as("a").join(li.as("b"),
          col("a.ok") === col("b.ok") && col("a.p") < col("b.p"))
        .select(col("a.p").as("p1"), col("b.p").as("p2"))
        .distinct()
      edges.write.mode("overwrite").parquet(out)
      edges
    }

  /** Bench pre-pass entries: materialize the shared edge build before
    * the per-query timer (same contract as DedupSim.staging). */
  override def staging: Map[String, (SparkSession, String) => Unit] = Map(
    "qB2_triangle_count" -> coorderEdges.stage,
    "qE8_kcore" -> coorderEdges.stage,
    "q11B_adamic_adar" -> coorderEdges.stage
  )

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // PageRank over the undirected customer–supplier trade graph
    // (edge = "this customer ordered from this supplier"): 3
    // fixed-point iterations; output = every node's rank in
    // millionths. High-degree suppliers accumulate rank — the same
    // power-law hubs that make skew handling (q9C/q1B) matter.
    "qA3_pagerank" -> ((s, dir) => {
      // nodes are LONG-encoded (customer c → 2c, supplier s → 2s+1):
      // integer keys keep every shuffle/join/agg in this iterative
      // query primitive-typed — the string spelling ('C'||key) paid
      // UTF8 hashing+compare on 1M-row joins ×3 iterations
      // Spread.scan (r15 opt): the single-split lineitem scan fused
      // the broadcast-join probe + distinct partial agg into ONE
      // serial task (~0.5 s); identity at real scale (guide §2.5)
      val e0 = table(s, dir, "orders")
        .join(graft.ops.Spread.scan(
            table(s, dir, "lineitem").select("l_orderkey", "l_suppkey"),
            Seq(col("l_orderkey"))),
          col("o_orderkey") === col("l_orderkey"))
        .select((col("o_custkey") * 2).as("src"),
          (col("l_suppkey") * 2 + 1).as("dst"))
        .distinct()
      // pageRank's edge pin is the one materialization; also pinning
      // the directed half measured no faster (noop, sf0.1, local[4])
      pageRank(e0.union(
        e0.select(col("dst").as("src"), col("src").as("dst"))), Iters)
    }),

    // Triangle counting (Schank–Wagner degree-ordered orientation)
    // over the part co-order graph: parts are adjacent when they
    // appear in the same order (deterministic 1-in-8 order subset —
    // the FULL graph's 148M wedges are exactly the blow-up this
    // algorithm exists to dodge, see below). Every edge is oriented
    // from its lower-(degree, id) endpoint, so wedge enumeration is
    // Σ C(outdeg,2) with outdeg ≤ O(√m) on ANY graph — the skewed
    // hub that makes naive Σ C(deg,2) quadratic fans its wedges out
    // across its (many) higher-order neighbors instead. The closing
    // edge lookup is an equi-join because the (deg,id) total order
    // stores each edge exactly once, already sorted. Output
    // (1 summary row) is orientation-invariant, so the id-ordered
    // DuckDB oracle checks it exactly: n_edges, Σ-C(d,2) wedges,
    // triangles, and global clustering 3T/W (one division).
    "qB2_triangle_count" -> ((s, dir) =>
      triangleCount(coorderEdges.frame(s, dir), checkpointInput = false)),

    // k-core decomposition (peel to fixpoint, k=6) over the same part
    // co-order graph as qB2 — the dense-subgraph extractor community
    // detection and spam/fraud pipelines run first (Seidman '83;
    // Batagelj–Zaveršnik peeling). The peel runs until a round
    // removes ZERO edges (one cheap count on the already-materialized
    // checkpoint per round — the exact fixpoint, so the result is the
    // true k-core on any graph depth), with a 64-round safety cap a
    // real graph never reaches (each productive round removes ≥1
    // vertex of a finite peel sequence). Each round is one degree
    // aggregate + two semi-joins on the SHRINKING edge list,
    // localCheckpoint'd so round r+1 reads materialized edges, not r
    // rounds of lineage — the Components.scala discipline. Nothing is
    // ever quadratic; the peel touches O(m) per round.
    "qE8_kcore" -> ((s, dir) => {
      val core = kcore(coorderEdges.frame(s, dir), KcoreK,
        checkpointInput = false)
      core.select(col("p1").as("u")).union(core.select(col("p2").as("u")))
        .groupBy("u").agg(count(lit(1)).as("core_deg"))
    }),

    // Adamic–Adar link prediction over the same part co-order graph
    // as qB2/qE8: for non-adjacent pairs sharing neighbors,
    // AA(u,v) = Σ_{w ∈ N(u)∩N(v)} 1/ln(deg w) — the classic "which
    // edges are missing" score (friend suggestion, retrieval-graph
    // densification). Scale shape: candidate pairs come from wedge
    // enumeration through each common neighbor w — Σ C(deg_w, 2)
    // wedges, explicitly HUB-CAPPED at deg ≤ 256 (hubs contribute
    // the least per-wedge weight 1/ln(deg) and the most wedges; the
    // cap bounds per-vertex fan-out at C(256,2) regardless of graph
    // size, the standard LP blocking rule). Per-neighbor weights are
    // nano-unit integers (floor(1e9/ln deg) — LnExact is correctly
    // rounded, so both engines floor the identical double), making
    // the pair score an exact BIGINT sum; existing edges drop via
    // one anti-join; the top-20 cut is TakeOrderedAndProject (never
    // a global single-partition sort), re-ranked over the 20-row
    // frame.
    "q11B_adamic_adar" -> ((s, dir) => {
      import org.apache.spark.sql.expressions.Window
      // the staged parquet copy IS the materialized frame the old
      // localCheckpoint provided — both re-reads (neighbor build +
      // existing-edge anti-join) scan it directly
      val aa = adamicAdarPairs(coorderEdges.frame(s, dir))
      aa.orderBy(col("aa_fp").desc, col("p1").asc, col("p2").asc).limit(20)
        .withColumn("rnk", row_number().over(
          Window.orderBy(col("aa_fp").desc, col("p1").asc, col("p2").asc))
          .cast("long"))
        .select(col("rnk"), col("p1"), col("p2"), col("n_common"),
          col("aa_fp"))
    })
  )

  /** Adamic–Adar scores for all non-adjacent pairs of `edges`
    * (distinct undirected pairs p1 < p2) sharing ≥1 common neighbor.
    * Wedges per center w: ONE shuffle gathers the (deg-capped)
    * neighbor list, then the C(deg,2) pairs explode IN-TASK from the
    * sorted array (Pairs G1) — vs the wn⋈wn self-join form, which
    * sort-merges two deg-sized streams to emit the same rows
    * (measured 5.4 s → 4.5 s at sf0.1). The `degCap` (default 256)
    * bounds per-vertex fan-out at C(cap,2) REGARDLESS of graph size —
    * hubs contribute the least per-wedge weight 1/ln(deg) and the
    * most wedges, so dropping them is the standard link-prediction
    * blocking rule; ScaleSmokeSpec pins that a 50k-spoke star
    * generates zero wedges while its periphery survives. */
  def adamicAdarPairs(edges: DataFrame, degCap: Int = 256): DataFrame = {
    val nbrs = edges.select(col("p1").as("w"), col("p2").as("v"))
      .union(edges.select(col("p2").as("w"), col("p1").as("v")))
    val deg = nbrs.groupBy("w").agg(count(lit(1)).as("deg"))
    val wn = nbrs.join(deg, "w")
      .filter(col("deg") >= 2 && col("deg") <= degCap)
      .withColumn("t_fp",
        floor(lit(1e9) / graft.functions.LnExact(col("deg").cast("double")))
          .cast("long"))
    // Spread.fanout: AQE coalesces the small pre-explode aggregate to
    // one task and the C(deg,2) wedge Generate runs serially (measured
    // 3.4 s of the query's 4.0 s in ONE task at sf0.1); the pinned-
    // width repartition keeps the explode at shuffle width — guide
    // §2.2/§2.5, see ops/Spread.scala.
    graft.ops.Pairs.explodePairs(
        graft.ops.Spread.fanout(
          wn.groupBy("w", "t_fp").agg(sort_array(collect_list("v")).as("vs")),
          Seq(col("w"))),
        "vs", "p1", "p2")
      .groupBy("p1", "p2")
      .agg(count(lit(1)).as("n_common"), sum("t_fp").as("aa_fp"))
      .join(edges, Seq("p1", "p2"), "left_anti")
  }

  private val KcoreK = 6
  // oracle unroll budget: rounds past the fixpoint are idempotent, so
  // any count ≥ rounds-to-fixpoint at the certified SFs (≈4) matches
  // the engine's exact fixpoint; a future SF needing >8 would surface
  // as an oracle mismatch, not a silent divergence
  private val KcoreOracleRounds = 8

  /** Peel `edges` (distinct undirected pairs p1 < p2) to the exact
    * k-core fixpoint: drop vertices with degree < k, shrink the edge
    * list, repeat until a round removes no edge (degree set stable ⇒
    * fixpoint reached). The per-round count is free in practice — the
    * localCheckpoint already materialized the round's edge list. */
  def kcore(edges: DataFrame, k: Int, maxRounds: Int = 64,
      checkpointInput: Boolean = true,
      ckpt: graft.io.CheckpointStrategy =
        graft.io.CheckpointStrategy.EagerLocal): DataFrame = {
    val mat = ckpt.session("kcore")
    // round-0 reads of an already-materialized input (staged parquet)
    // skip the redundant checkpoint copy; every later round still
    // checkpoints its shrunken edge list
    var e = if (checkpointInput) mat.pin(edges) else edges
    var m = e.count()
    var rounds = 0
    var done = m == 0L
    while (!done && rounds < maxRounds) {
      val keep = e.select(col("p1").as("u")).union(
          e.select(col("p2").as("u")))
        .groupBy("u").agg(count(lit(1)).as("d"))
        .filter(col("d") >= k).select("u")
      // r16 job fusion (guide §2.4, VERDICT r15 item 8): the
      // surviving-edge count rides the checkpoint materialization as
      // an observed metric instead of a second full pass over the
      // just-materialized round (same fusion as Components' label
      // sum; count is exact regardless of row order).
      val obs = org.apache.spark.sql.Observation()
      val next = mat.step(e
        .join(keep.select(col("u").as("p1")), Seq("p1"), "left_semi")
        .join(keep.select(col("u").as("p2")), Seq("p2"), "left_semi")
        .observe(obs, count(lit(1)).as("m")))
      val m2 = obs.get("m").asInstanceOf[Long]
      done = m2 == m || m2 == 0L
      e = next; m = m2; rounds += 1
    }
    e
  }

  /** Triangle count + wedge count + global clustering over a distinct
    * undirected edge list (p1 < p2, both < 2^32). Degree-ordered
    * orientation (Schank–Wagner): every edge points from its lower-
    * (degree, id) endpoint, so enumerated wedges are Σ C(outdeg,2)
    * with outdeg ≤ O(√m) on ANY graph — a 50k-spoke star has 1.25e9
    * undirected wedges but ZERO oriented ones (every spoke points at
    * the hub; the hub points nowhere), which is what ScaleSmokeSpec
    * pins. The closing-edge lookup is an equi-semi-join because the
    * total order stores each edge exactly once, already sorted. The
    * summary row is orientation-invariant, so an id-ordered oracle
    * checks it exactly. */
  def triangleCount(edges: DataFrame,
      checkpointInput: Boolean = true,
      ckpt: graft.io.CheckpointStrategy =
        graft.io.CheckpointStrategy.EagerLocal): DataFrame = {
    val mat = ckpt.session("triangles")
    // built once; deg + 3 join sides. Callers whose edge list is
    // already materialized (the staged parquet copy) skip the copy —
    // re-scanning a columnar file is cheaper than rewriting it to
    // local checkpoint storage first.
    val e = if (checkpointInput) mat.pin(edges) else edges
    val deg = e.select(col("p1").as("u")).union(e.select(col("p2")))
      .groupBy("u").agg(count(lit(1)).as("d"))
    // total order key: degree in the high bits, id breaks ties
    val key = (col("d") * lit(4294967296L) + col("u")).as("okey")
    val dk = deg.select(col("u"), key)
    // pinned: feeds both wedge sides + the closing semi join
    val dir0 = mat.pin(e
      .join(dk.select(col("u").as("p1"), col("okey").as("k1")), "p1")
      .join(dk.select(col("u").as("p2"), col("okey").as("k2")), "p2")
      .select(
        when(col("k1") < col("k2"), col("k1")).otherwise(col("k2")).as("src"),
        when(col("k1") < col("k2"), col("k2")).otherwise(col("k1")).as("dst")))
    val tri = dir0.as("w1").join(dir0.as("w2"),
        col("w1.src") === col("w2.src") && col("w1.dst") < col("w2.dst"))
      .select(col("w1.dst").as("src"), col("w2.dst").as("dst"))
      .join(dir0, Seq("src", "dst"), "left_semi")
      .agg(count(lit(1)).as("n_triangles"))
    // wedge diagnostic in decimal(38,0): a single 4.3e9-degree hub's
    // d(d-1)/2 term passes 2^63, and the Σ sooner; the BIGINT output
    // is a paired TRY_CAST (NULL on both engines past int64) while
    // clustering divides the exact decimal
    val summary = e.agg(count(lit(1)).as("n_edges"))
      .crossJoin(deg.agg(
        sum(expr("CAST(d AS DECIMAL(38,0)) * (d - 1)")).as("tw")))
      .crossJoin(tri)
    summary.select(col("n_edges"),
      // decimal /2 is exact (tw is even), and TRY_CAST stays graceful
      // where `div`'s long result would abort under ANSI
      expr("TRY_CAST(tw / 2 AS BIGINT)").as("n_wedges"),
      col("n_triangles"),
      ((col("n_triangles") * 3).cast("double")
        / (col("tw").cast("double") / 2.0)).as("clustering"))
  }

  def oracles: Map[String, String] = Map(
    // the same three updates unrolled as chained CTEs; HUGEINT
    // intermediates collapse back to BIGINT at each rank cast
    "qA3_pagerank" -> {
      def step(prev: String, out: String) =
        s"""$out AS (
           SELECT ed.dst AS node,
             CAST(150000 + (85 * sum($prev.rank // ed.deg)) // 100 AS BIGINT) AS rank
           FROM ed JOIN $prev ON ed.src = $prev.node GROUP BY ed.dst)"""
      s"""WITH e0 AS MATERIALIZED (
           SELECT DISTINCT o_custkey * 2 AS src, l_suppkey * 2 + 1 AS dst
           FROM orders JOIN lineitem ON o_orderkey = l_orderkey),
         edges AS MATERIALIZED (SELECT src, dst FROM e0
                   UNION ALL SELECT dst, src FROM e0),
         deg AS MATERIALIZED (SELECT src, CAST(count(*) AS BIGINT) AS deg
                 FROM edges GROUP BY src),
         -- MATERIALIZED: ed is read by all three iteration steps —
         -- inlined, DuckDB re-runs the orders⋈lineitem distinct per
         -- step and the sf10 truth side spilled >70 GB to disk
         ed AS MATERIALIZED (SELECT e.src, e.dst, d.deg
                FROM edges e JOIN deg d USING (src)),
         r0 AS (SELECT src AS node, CAST(1000000 AS BIGINT) AS rank FROM deg),
         ${step("r0", "r1")},
         ${step("r1", "r2")},
         ${step("r2", "r3")}
         SELECT node, rank FROM r3"""
    },

    // id-ordered a<b<c triple join — the triangle count, wedge count
    // and clustering coefficient are orientation-invariant, so this
    // checks the degree-oriented engine plan exactly
    "qB2_triangle_count" ->
      """WITH e AS (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_orderkey % 8 = 0),
         deg AS (
           SELECT u, CAST(count(*) AS BIGINT) AS d
           FROM (SELECT p1 AS u FROM e UNION ALL SELECT p2 FROM e)
           GROUP BY u),
         tri AS (
           SELECT CAST(count(*) AS BIGINT) AS n_triangles
           FROM e e1
           JOIN e e2 ON e2.p1 = e1.p2
           JOIN e e3 ON e3.p1 = e1.p1 AND e3.p2 = e2.p2)
         SELECT
           (SELECT CAST(count(*) AS BIGINT) FROM e) AS n_edges,
           -- HUGEINT wedge sum mirrors Spark's decimal(38,0); the
           -- BIGINT output is a paired TRY_CAST
           (SELECT TRY_CAST(sum(CAST(d AS HUGEINT) * (d - 1)) // 2 AS BIGINT)
            FROM deg) AS n_wedges,
           n_triangles,
           CAST(n_triangles * 3 AS DOUBLE)
             / (CAST((SELECT sum(CAST(d AS HUGEINT) * (d - 1)) FROM deg)
                AS DOUBLE) / 2.0)
             AS clustering
         FROM tri""",

    // the peel unrolled as chained CTEs — 8 rounds, ≥ the certified
    // SFs' rounds-to-fixpoint, and idempotent beyond it (see
    // KcoreOracleRounds): matches the engine's exact-fixpoint peel
    "qE8_kcore" -> {
      // MATERIALIZED is load-bearing: each round reads its
      // predecessor 3× — inlined CTEs would re-run the whole prefix
      // exponentially (and exhaust file handles re-opening the scan)
      def peel(prev: String, out: String) =
        s"""k_$out AS MATERIALIZED (
             SELECT u FROM (
               SELECT u, count(*) AS d FROM (
                 SELECT p1 AS u FROM $prev
                 UNION ALL SELECT p2 FROM $prev) GROUP BY u)
             WHERE d >= $KcoreK),
           $out AS MATERIALIZED (
             SELECT p1, p2 FROM $prev
             WHERE p1 IN (SELECT u FROM k_$out)
               AND p2 IN (SELECT u FROM k_$out))"""
      val rounds = (1 to KcoreOracleRounds)
        .map(i => peel(s"e${i - 1}", s"e$i")).mkString(",\n         ")
      s"""WITH e0 AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_orderkey % 8 = 0),
         $rounds
         SELECT u, CAST(count(*) AS BIGINT) AS core_deg FROM (
           SELECT p1 AS u FROM e$KcoreOracleRounds
           UNION ALL SELECT p2 FROM e$KcoreOracleRounds) GROUP BY u"""
    },

    // same hub-capped wedge enumeration, same nano-unit 1/ln(deg)
    // weights, same anti-join and (aa_fp, p1, p2) top-20 order
    "q11B_adamic_adar" ->
      """WITH e AS MATERIALIZED (
           SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
           FROM lineitem a JOIN lineitem b
             ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
           WHERE a.l_orderkey % 8 = 0),
         nbrs AS (
           SELECT p1 AS w, p2 AS v FROM e
           UNION ALL SELECT p2, p1 FROM e),
         deg AS (
           SELECT w, CAST(count(*) AS BIGINT) AS deg FROM nbrs GROUP BY w),
         wn AS (
           SELECT nbrs.w, v,
             CAST(floor(1e9 / ln(CAST(deg AS DOUBLE))) AS BIGINT) AS t_fp
           FROM nbrs JOIN deg ON deg.w = nbrs.w
           WHERE deg >= 2 AND deg <= 256),
         aa AS (
           SELECT x.v AS p1, y.v AS p2,
             CAST(count(*) AS BIGINT) AS n_common,
             CAST(sum(x.t_fp) AS BIGINT) AS aa_fp
           FROM wn x JOIN wn y ON x.w = y.w AND x.v < y.v
           GROUP BY x.v, y.v),
         nov AS (
           SELECT * FROM aa
           WHERE NOT EXISTS (SELECT 1 FROM e
             WHERE e.p1 = aa.p1 AND e.p2 = aa.p2)),
         r AS (
           SELECT *, CAST(row_number() OVER (
             ORDER BY aa_fp DESC, p1 ASC, p2 ASC) AS BIGINT) AS rnk
           FROM nov)
         SELECT rnk, p1, p2, n_common, aa_fp
         FROM r WHERE rnk <= 20"""
  )
}
