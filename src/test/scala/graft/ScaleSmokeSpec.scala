package graft

import org.apache.spark.sql.functions._

import graft.dedup.Dedup
import graft.text.TextStats

/** Scale smoke (builder brief: "would this still work at 1000×?"):
  * run the dedup/text hot paths over a 200k-row synthetic corpus
  * generated distributively with spark.range — 40× the sf0.1
  * documents table — and sanity-check output shapes. Catches
  * accidental driver-side materialization or quadratic blowups that
  * the 5k-row test tables would hide. */
class ScaleSmokeSpec extends SparkSpec {

  private lazy val corpus = {
    // 200k docs × 30 tokens from a 1000-word vocabulary, built
    // entirely from codegen'd expressions (no data movement)
    val words = transform(sequence(lit(0), lit(29)),
      i => concat(lit("w"), pmod(hash(col("id") * 31 + i), lit(1000))))
    spark.range(200000)
      .withColumn("text", concat_ws(" ", words))
      .select(col("id").as("doc_id"), col("text"))
  }

  test("minhash + LSH over 200k docs completes with sane shapes") {
    val d = corpus
      .withColumn("shingles", TextStats.shingles(TextStats.tokens(col("text")), 3))
      .select("doc_id", "shingles")
    val sigs = Dedup.minhashSignatures(d, "doc_id", "shingles", 8)
    assert(sigs.count() === 200000L * 8)
    val cands = Dedup.lshCandidatePairs(Dedup.lshBandKeys(sigs, "doc_id", 2), "doc_id")
    // random 30-token docs from a 1k vocab shouldn't look near-identical
    val n = cands.count()
    assert(n < 1000, s"LSH produced implausibly many candidates: $n")
  }

  test("banded simhash near-pair search over 200k docs stays sub-quadratic") {
    val d = corpus.withColumn("toks", TextStats.tokens(col("text")))
      .select("doc_id", "toks")
    val fp = Dedup.simhash(d, "doc_id", "toks", 60)
    // radius 3 over 60 bits ⇒ 4 bands × 15 bits: the equi-join key
    // space (32k values per band) bounds candidates at ~(r+1)·n²/2^15
    // ≈ 2.4M verifies for n=200k — all-pairs would be 20 BILLION.
    val pairs = Dedup.simhashNearPairsBanded(fp, "doc_id", "simhash", 60, 3)
    // random token sets almost never land within hamming 3; the point
    // is that the job COMPLETES at 200k (all-pairs would not)
    assert(pairs.count() < 5000)
  }

  test("connected components over a 200k-vertex edge list converges") {
    import graft.dedup.Components
    // 100k two-vertex pairs + 50 rings of 40 laid over even ids:
    // 200k vertices, ~102k edges, max diameter ~21 — exercises the
    // multi-round path at 40× table scale without a quadratic shape
    val pairEdges = spark.range(100000)
      .select((col("id") * 2).as("id1"), (col("id") * 2 + 1).as("id2"))
    val ringEdges = spark.range(50L * 40)
      .select(
        expr("(id div 40) * 4000 + (id % 40) * 100").as("id1"),
        expr("(id div 40) * 4000 + (((id % 40) + 1) % 40) * 100").as("id2"))
    val edges = pairEdges.union(ringEdges)
    val verts = spark.range(200000).select(col("id"))
    val labeled = Components.connectedComponents(edges, verts, "id")
    assert(labeled.count() === 200000)
    // ring 0 glues 40 ring members + their 40 pair partners to min id 0
    val zeroCluster = labeled.filter(col("cluster_id") === 0).count()
    assert(zeroCluster === 80, s"ring-0 cluster size: $zeroCluster")
  }

  test("components: 65k-vertex chain converges in O(log d) rounds") {
    import graft.dedup.Components
    // a 2^16-vertex path is the pathological diameter case (d=65535):
    // plain neighbor-min propagation would need ~d rounds — tens of
    // thousands of shuffles, effectively non-terminating; pointer
    // jumping halves the remaining distance per round → ~log2(d)
    val n = 65536L
    val chain = spark.range(n - 1)
      .select(col("id").as("id1"), (col("id") + 1).as("id2"))
    val verts = spark.range(n).select(col("id"))
    val (labeled, rounds) = Components
      .connectedComponentsWithRounds(chain, verts, "id", maxIter = 30)
    assert(labeled.filter(col("cluster_id") =!= 0).count() === 0)
    // log2(65535) = 16; allow slack for the pre-jump ramp-up rounds
    // and the final no-change fixed-point round, but far below O(d)
    assert(rounds <= 24, s"chain rounds: $rounds (diameter ${n - 1})")
  }

  test("components: 200k-vertex star converges in O(1) rounds") {
    import graft.dedup.Components
    // hub-and-spoke on 200k vertices: the at-scale version of the
    // dense-shallow near-dup cluster (diameter 2) — round count must
    // not grow with vertex count
    val n = 200000L
    val star = spark.range(1, n).select(lit(0L).as("id1"), col("id").as("id2"))
    val verts = spark.range(n).select(col("id"))
    val (labeled, rounds) = Components
      .connectedComponentsWithRounds(star, verts, "id")
    assert(labeled.filter(col("cluster_id") =!= 0).count() === 0)
    assert(rounds <= 4, s"star rounds: $rounds")
  }

  test("components: clique topology converges in O(1) rounds") {
    import graft.dedup.Components
    // complete graph on 256 vertices (32,640 undirected edges):
    // every vertex sees the minimum directly → one label round plus
    // the fixed-point detection round
    val k = 256
    val ids = spark.range(k)
    val clique = ids.select(col("id").as("id1"))
      .crossJoin(ids.select(col("id").as("id2")))
      .filter(col("id1") < col("id2"))
    val (labeled, rounds) = Components
      .connectedComponentsWithRounds(clique, ids.select(col("id")), "id")
    assert(labeled.filter(col("cluster_id") =!= 0).count() === 0)
    assert(rounds <= 3, s"clique rounds: $rounds")
  }

  test("triangles: degree orientation tames the 50k-spoke star hub") {
    import graft.queries.GraphQueries
    // star hub deg 50k ⇒ Σ C(deg,2) ≈ 1.25e9 undirected wedges — the
    // frame a naive wedge self-join would materialize. Orientation
    // points every spoke AT the hub (higher degree), hub outdeg 0, so
    // enumerated wedges collapse to the ~100 chain-edge corners and
    // the count finishes in seconds. 100 chain edges between
    // consecutive spokes each close exactly one triangle via the hub.
    val n = 50000L
    val spokes = spark.range(1, n + 1)
      .select(lit(0L).as("p1"), col("id").as("p2"))
    val chain = spark.range(1, 101)
      .select(col("id").as("p1"), (col("id") + 1).as("p2"))
    val row = GraphQueries.triangleCount(spokes.union(chain)).collect()(0)
    assert(row.getAs[Long]("n_edges") === n + 100)
    // wedge COUNT is the undirected Σ C(d,2) audit number — dominated
    // by the hub's C(50000,2); the algorithm never enumerates it
    assert(row.getAs[Long]("n_wedges") >= n * (n - 1) / 2)
    assert(row.getAs[Long]("n_triangles") === 100L)
  }

  test("HITS decimal accumulators survive hub-squared int64 overflow") {
    import spark.implicits._
    // dense star: one customer buying from 3 suppliers with planted
    // auth₁ = 4e18 each ⇒ hub₁ = 1.2e19 > Long.MaxValue (9.22e18) —
    // the Σdeg·deg growth SURVEY 8.8 names first-to-break at 1000×.
    // A raw BIGINT sum wraps (or throws under ANSI); the
    // decimal(38,0) path must carry the exact value through both
    // iterations.
    val e = Seq((1L, 10L), (1L, 11L), (1L, 12L)).toDF("c", "sup")
    val a1 = 4000000000000000000L
    val auth1 = Seq((10L, a1), (11L, a1), (12L, a1)).toDF("sup", "a1")
    val rows = graft.queries.EvalQueries.hitsAuth2(e, auth1)
      .orderBy("sup").collect()
    assert(rows.length === 3)
    val expect = BigDecimal("12000000000000000000")
    rows.foreach { r =>
      assert(BigDecimal(r.getDecimal(1)) === expect,
        s"auth2 wrapped for sup ${r.getLong(0)}: ${r.getDecimal(1)}")
    }
  }

  test("sparse cosine: the df cap keeps a stopword dimension feasible") {
    import org.apache.spark.sql.expressions.Window
    // 50k docs that ALL share one dimension ("the"): uncapped, that
    // dim alone contributes C(50k,2) ≈ 1.25e9 candidate pairs — the
    // blow-up qB4's df cut exists for. Capped at df ≤ 50, the
    // stopword dim is dropped and only the planted rare dims pair.
    val n = 50000L
    val docs = spark.range(n).select(col("id").as("doc_id"))
      // every doc has the stopword dim; each pair (2k, 2k+1) shares
      // a rare dim "r<k>" → exactly n/2 candidate pairs survive
      .withColumn("g", explode(array(lit("the"),
        concat(lit("r"), (col("doc_id") / 2).cast("long")))))
      .withColumn("tf", lit(1L))
    val pruned = docs
      .withColumn("df", count(lit(1)).over(Window.partitionBy("g")))
      .where(col("df") <= 50)
    val pairs = pruned.as("a").join(pruned.as("b"),
        col("a.g") === col("b.g") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("d1"), col("b.doc_id").as("d2"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("dot"))
    assert(pairs.count() === n / 2,
      "df cap failed to bound candidate pairs to the rare dims")
  }

  test("GroupedTopK over 200k rows matches the window idiom") {
    import graft.plans.GroupedTopK
    val df = spark.range(200000)
      .select(pmod(col("id"), lit(1000)).as("key"),
        pmod(hash(col("id")), lit(100000)).as("v"), col("id"))
    val got = GroupedTopK
      .topK(df, Seq(col("key")), Seq(col("v").desc, col("id").asc), 3)
    assert(got.count() === 3000)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("key").orderBy(col("v").desc, col("id").asc)
    val idiom = df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3).drop("rn")
    assert(got.exceptAll(idiom).isEmpty && idiom.exceptAll(got).isEmpty)
  }

  test("pageRank: 500k-node ring matches the fixed-point closed form") {
    import graft.queries.GraphQueries
    val n = 500000L
    // undirected ring: every node has degree 2 and, by symmetry,
    // every node's rank stays identical through all iterations — so
    // the distributed result must equal the scalar recurrence
    // r' = 150000 + (85 * 2*(r div 2)) div 100 exactly, on all 500k
    // rows. Any partial-sum drift, dropped edge, or float sneaking
    // into the update breaks equality.
    val fwd = spark.range(n)
      .select(col("id").as("src"), ((col("id") + 1) % n).as("dst"))
    val edges = fwd.union(fwd.select(col("dst").as("src"), col("src").as("dst")))
    val ranks = GraphQueries.pageRank(edges, iters = 3)
    var r = 1000000L
    for (_ <- 1 to 3) r = 150000L + (85L * (2L * (r / 2L))) / 100L
    val distinctRanks = ranks.groupBy("rank").count().collect()
    assert(distinctRanks.length === 1 && distinctRanks.head.getLong(0) === r)
    assert(ranks.count() === n)
  }

  test("kcore peels a deep cascade past any fixed round budget") {
    import graft.queries.GraphQueries
    import spark.implicits._
    // 40-vertex path (ids 0..39) + disjoint triangle (100,101,102).
    // The 2-core peel unravels the path one vertex per round from
    // each END — ~20 rounds to dissolve it fully, far beyond the old
    // 6-round budget — while the triangle is degree-2 everywhere and
    // survives. Fixpoint detection must return EXACTLY the triangle.
    val path = spark.range(39)
      .select(col("id").as("p1"), (col("id") + 1).as("p2"))
    val tri = Seq((100L, 101L), (100L, 102L), (101L, 102L))
      .toDF("p1", "p2")
    val core = GraphQueries.kcore(path.union(tri), 2)
    assert(core.select("p1", "p2").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
      === Set((100L, 101L), (100L, 102L), (101L, 102L)))
    // an empty-core graph (pure path, no cycle) peels to zero edges
    assert(GraphQueries.kcore(path, 2).count() === 0L)
  }

  test("native sentiment over 200k docs stays distributed") {
    val out = graft.queries.TextQueries.sentimentDocs(
      corpus.withColumn("text", concat(col("text"), lit(" good not bad"))))
    assert(out.count() === 200000)
    // every doc got the appended 'good'(+700) and 'not bad'(-(-700*0.5)=+350)
    val one = out.filter(col("doc_id") === 42).collect().head.getDouble(1)
    assert(one === (700 * 1000 + -700 * -500).toDouble / 2 / 1000000.0)
  }

  test("adamic-adar: the hub cap silences a 50k-spoke star, periphery survives") {
    import graft.queries.GraphQueries
    import spark.implicits._
    // star: hub 0 — spokes 1..50000 (deg 50000 ≫ cap: contributes NO
    // wedges; uncapped it would emit C(50k,2) ≈ 1.25e9 pairs), plus a
    // 4-clique on 60001..60004 whose members (deg 3) all survive.
    val star = spark.range(1, 50001)
      .select(lit(0L).as("p1"), col("id").as("p2"))
    val clique = Seq((60001L, 60002L), (60001L, 60003L), (60001L, 60004L),
      (60002L, 60003L), (60002L, 60004L), (60003L, 60004L))
      .toDF("p1", "p2")
    val aa = GraphQueries.adamicAdarPairs(star.union(clique))
    val rows = aa.collect()
    // spokes have deg 1 (< 2) and the hub is capped: the star
    // contributes nothing; the clique is complete, so every 2-path is
    // an existing edge and the anti-join removes it — result is empty,
    // reached WITHOUT enumerating the 1.25e9 hub wedges
    assert(rows.isEmpty)
    // periphery check: break one clique edge — its endpoints now share
    // two common neighbors and must surface with exactly that score
    val aa2 = GraphQueries.adamicAdarPairs(
      star.union(clique.filter(!(col("p1") === 60003L && col("p2") === 60004L))))
    val hit = aa2.collect()
    assert(hit.length === 1)
    val r = hit.head
    assert(r.getAs[Long]("p1") === 60003L && r.getAs[Long]("p2") === 60004L)
    assert(r.getAs[Long]("n_common") === 2L)
  }
}
