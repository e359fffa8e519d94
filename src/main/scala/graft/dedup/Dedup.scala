package graft.dedup

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._

/** Deduplication operators for a large-scale training-data pipeline
  * (builder brief): exact/canonical dedup, MinHash+LSH, SimHash, and
  * n-gram Jaccard. All pure Column expressions over md5-derived
  * integer hashing, so every step is SQL-expressible for the DuckDB
  * oracle AND stays inside whole-stage codegen.
  *
  * Scale shapes:
  *  - exact dedup = hash groupBy: partial+final agg, shuffle width =
  *    #distinct keys.
  *  - minhash: explode(shingles) is a narrow generate; the signature
  *    groupBy shuffles (doc, k) pairs — k rows per doc, constant
  *    factor over the corpus.
  *  - LSH candidates: self-join on (band, bandHash) buckets only —
  *    never the full cross product. Bucket sizes bound the join; a
  *    skewed bucket (all-identical docs) is the data's own signal,
  *    handled by AQE skew-join at scale (DedupSpec's pathological-
  *    bucket case reproduces a 3000-doc bucket and asserts the
  *    skew split fires in the executed plan).
  *  - pairwise Jaccard is restricted to an explicit bucket column
  *    (here `source`) — the quadratic stays within buckets.
  */
object Dedup {

  /** Large prime modulus for the hash family (fits in a long with
    * 32-bit multipliers without overflow). */
  val P: Long = 1000000007L

  /** multiplier/offset per hash function (fixed small primes). */
  val HashA: Seq[Long] = Seq(2L, 3L, 5L, 7L, 11L, 13L, 17L, 19L)
  val HashB: Seq[Long] = Seq(1L, 101L, 1009L, 10007L, 100003L, 12345L, 54321L, 999983L)

  /** md5-derived 60-bit integer of a string column (first 15 hex
    * chars), the base hash H(s) shared by minhash/simhash. Evaluated
    * by the native [[graft.functions.Md5Long]] expression — digest →
    * 60 bits directly, no hex-string round-trip; bit-identical to
    * `conv(substring(md5(c), 1, 15), 16, 10)` (DedupSpec pins it). */
  def md5Long(c: Column): Column = graft.functions.Md5Long(c)

  /** Wide per-key minhash minima m0..m{n-1} over exploded shingles —
    * the ONE place the hash family h_k(s) = (a_k·(H(s) mod P) + b_k)
    * mod P is applied: each shingle is md5-hashed ONCE and all k
    * minima ride a single aggregation pass (k agg expressions, no k×
    * row fanout). Shared by [[minhashSignaturesBy]] (stack unpivot)
    * and [[minhashBandKeys]] (fused band combine). */
  private def minhashWide(df: DataFrame, keyCols: Seq[String],
                          shinglesCol: String, numHashes: Int): DataFrame = {
    val sh = df.select(keyCols.map(col) :+ explode(col(shinglesCol)).as("shingle"): _*)
      .withColumn("H", md5Long(col("shingle")) % P)
    val aggs = (0 until numHashes).map { k =>
      min((lit(HashA(k)) * col("H") + lit(HashB(k))) % P).as(s"m$k")
    }
    sh.groupBy(keyCols.map(col): _*).agg(aggs.head, aggs.tail: _*)
  }

  /** Exact duplicate groups over a canonical key: returns one row per
    * key with the surviving (minimum) id and the duplicate count. */
  def exactDupGroups(df: DataFrame, key: Column, id: Column): DataFrame =
    df.groupBy(key.as("dup_key"))
      .agg(min(id).as("keep_id"), count(lit(1)).as("n_dups"))

  /** Long-form MinHash signatures (Broder 1997 min-wise hashing):
    * one row per (id, k) with the per-hash minimum over the shingle
    * set. `shingles` must be an array column. */
  def minhashSignatures(df: DataFrame, idCol: String, shinglesCol: String,
                        numHashes: Int = 8): DataFrame =
    minhashSignaturesBy(df, Seq(idCol), shinglesCol, numHashes)

  /** [[minhashSignatures]] generalized to a composite key — the
    * signature of ANY grouping (doc, source, source×lang, whole
    * corpus) is the same elementwise min over its shingle rows, which
    * is what makes the sketch MERGEABLE: min is associative, so
    * coarse signatures roll up from fine ones without re-reading text
    * (qA6 pins the identity; same algebra as the HLL rollup, q95). */
  def minhashSignaturesBy(df: DataFrame, keyCols: Seq[String],
                          shinglesCol: String,
                          numHashes: Int = 8): DataFrame = {
    require(numHashes >= 1 && numHashes <= HashA.length,
      s"numHashes must be in [1, ${HashA.length}] (available hash family size)")
    // NOTE: rows with EMPTY shingle arrays produce no signature (and
    // so can never be LSH candidates) — a <n-token doc has no n-gram
    // identity; pair minhash with exact/fingerprint dedup for those.
    // one [[minhashWide]] pass, then unpivot the k columns with stack()
    val wide = minhashWide(df, keyCols, shinglesCol, numHashes)
    val stackArgs = (0 until numHashes).map(k => s"$k, m$k").mkString(", ")
    wide.selectExpr(keyCols :+ s"stack($numHashes, $stackArgs) AS (k, minhash)": _*)
  }

  /** LSH banding over long-form signatures: band b combines
    * `rowsPerBand` consecutive hash rows into one band key; docs
    * sharing any (band, key) are candidates. Returns (band, band_key,
    * id) — self-join upstream of this gives candidate pairs. */
  def lshBandKeys(sigs: DataFrame, idCol: String,
                  rowsPerBand: Int = 2): DataFrame = {
    // band key: INJECTIVE base-P packing m₀·P + m₁ (< P² ≈ 1.02e18,
    // fits BIGINT) — the former additive combine Σ(r+1)·m mod P let
    // signatures that agree on NOTHING collide at ~1/P per pair-band
    // ((10,20) and (12,19) both keyed 50), and spurious candidate
    // edges feed q74/qA1/qC1's connected components where they merge
    // unrelated docs transitively. Injectivity restores the real LSH
    // contract: same key ⟺ same band signature.
    require(rowsPerBand == 2,
      s"injective band packing is defined for rowsPerBand=2, got $rowsPerBand")
    sigs.withColumn("band", (col("k") / rowsPerBand).cast("int"))
      .groupBy(idCol, "band")
      .agg(sum(col("minhash")
        * when(col("k") % 2 === 0, lit(P)).otherwise(lit(1L))).as("band_key"))
  }

  /** Band keys fused with the signature aggregation — the production
    * minhash→LSH path: computes each band's key directly from the
    * wide per-doc minima (one groupBy over the shingle rows, then a
    * narrow explode of nBands structs), skipping the long-form
    * signature materialization and its re-aggregation shuffle. Emits
    * exactly the rows of
    * `lshBandKeys(minhashSignatures(df, ...), ...)` (DedupSpec pins
    * the equivalence); keep [[minhashSignatures]] for when the
    * signatures themselves are the output (q41). */
  def minhashBandKeys(df: DataFrame, idCol: String, shinglesCol: String,
                      numHashes: Int = 8, rowsPerBand: Int = 2): DataFrame = {
    require(numHashes >= 1 && numHashes <= HashA.length,
      s"numHashes must be in [1, ${HashA.length}] (available hash family size)")
    require(numHashes % rowsPerBand == 0,
      s"numHashes ($numHashes) must be a multiple of rowsPerBand ($rowsPerBand)")
    require(rowsPerBand == 2,
      s"injective band packing is defined for rowsPerBand=2, got $rowsPerBand")
    val wide = minhashWide(df, Seq(idCol), shinglesCol, numHashes)
    val bands = (0 until numHashes / rowsPerBand).map { b =>
      // same injective base-P packing as lshBandKeys: m_even·P + m_odd
      val key = col(s"m${b * 2}") * P + col(s"m${b * 2 + 1}")
      struct(lit(b).as("band"), key.as("band_key"))
    }
    wide.select(col(idCol), explode(array(bands: _*)).as("bk"))
      .select(col(idCol), col("bk.band").as("band"), col("bk.band_key").as("band_key"))
  }

  /** Candidate duplicate pairs from LSH band keys (id1 < id2). */
  def lshCandidatePairs(bandKeys: DataFrame, idCol: String): DataFrame = {
    val a = bandKeys.select(col("band"), col("band_key"), col(idCol).as("id1"))
    val b = bandKeys.select(col("band"), col("band_key"), col(idCol).as("id2"))
    a.join(b, Seq("band", "band_key"))
      .filter(col("id1") < col("id2"))
      .select("id1", "id2").distinct()
  }

  /** SimHash (Charikar 2002, random-hyperplane fingerprints) over a
    * token array: bit j of H(token) votes ±1; the sign of the vote
    * sum sets bit j of the fingerprint. `bits` ≤ 60 (the md5Long base
    * hash provides 60 usable bits); more bits ⇒ better hamming/
    * similarity correlation (32-bit/r6 → 48-bit/r9 raised recall vs
    * exact Jaccard ≥0.8 from 92.6% to 96.7% at matched candidate
    * volume on the test corpus). */
  def simhash(df: DataFrame, idCol: String, tokensCol: String,
              bits: Int): DataFrame = {
    require(bits >= 1 && bits <= 60, "simhash bits must be in [1, 60]")
    val toks = df.select(col(idCol),
      explode(array_distinct(col(tokensCol))).as("tok"))
      .withColumn("h", md5Long(col("tok")))
    // one vote-sum aggregate per bit in a SINGLE groupBy — `bits`
    // partial-agg columns over the token rows (map-side combined)
    // instead of exploding every token into `bits` rows and paying a
    // bits× shuffle plus a second aggregation (the r5 rework; same
    // fingerprints, ~2× faster at sf0.1)
    val votes = (0 until bits).map { j =>
      sum(shiftright(col("h"), j).bitwiseAND(1) * 2 - 1).as(s"s$j")
    }
    toks.groupBy(col(idCol)).agg(votes.head, votes.tail: _*)
      .select(col(idCol),
        (0 until bits).map(j =>
          when(col(s"s$j") > 0, lit(1L << j)).otherwise(lit(0L)))
          .reduce(_ + _).as("simhash"))
  }

  /** 32-bit SimHash (compatibility shape; see [[simhash]]). */
  def simhash32(df: DataFrame, idCol: String, tokensCol: String): DataFrame =
    simhash(df, idCol, tokensCol, 32)

  /** Embedding-cosine near-duplicate pairs within a bucket: corpus
    * self-join restricted to the bucket, cosine ≥ threshold. Norms
    * are precomputed per vector; the bucket bounds the quadratic
    * (pair with an LSH/IVF bucket column at scale). */
  def embeddingDupPairs(df: DataFrame, idCol: String, vecCol: String,
                        bucketCol: String, threshold: Double): DataFrame = {
    import graft.similarity.Similarity
    val e = df.select(col(bucketCol).as("bkt"), col(idCol).as("id"),
      Similarity.asDouble(col(vecCol)).as("v"))
      .withColumn("nrm", Similarity.norm2(col("v")))
      // zero-norm vectors would make cos NaN, and Spark orders NaN
      // ABOVE every number, so `cos >= threshold` would pair them
      // with everything — exclude them outright
      .filter(col("nrm") > 0)
    val a = e.select(col("bkt"), col("id").as("id1"), col("v").as("v1"), col("nrm").as("n1"))
    val b = e.select(col("bkt"), col("id").as("id2"), col("v").as("v2"), col("nrm").as("n2"))
    a.join(b, Seq("bkt"))
      .filter(col("id1") < col("id2"))
      .withColumn("cos", Similarity.dot(col("v1"), col("v2")) / (col("n1") * col("n2")))
      .filter(col("cos") >= threshold)
      .select("bkt", "id1", "id2", "cos")
  }

  /** SimHash near-duplicate pairs: fingerprints within `maxHamming`
    * bits of each other inside a bucket (bit_count(xor) — the
    * standard SimHash radius search). This is the exact in-bucket
    * baseline; [[simhashNearPairsBanded]] is the scale path that
    * avoids the in-bucket product entirely. */
  def simhashNearPairs(fingerprints: DataFrame, idCol: String,
                       simhashCol: String, bucketCol: String,
                       maxHamming: Int,
                       probes: Option[DataFrame] = None): DataFrame = {
    // probes: optional id frame restricting the id1 side — the
    // bounded-probe contract (emit pairs whose LOWER id is a probe)
    // that keeps the pair OUTPUT linear when callers audit a sample
    // against the full corpus (q49's sf10 form). None = all pairs.
    val left = probes.fold(fingerprints)(p =>
      fingerprints.join(broadcast(p.select(col(idCol))), Seq(idCol)))
    val a = left.select(col(bucketCol).as("bkt"),
      col(idCol).as("id1"), col(simhashCol).as("h1"))
    val b = fingerprints.select(col(bucketCol).as("bkt"),
      col(idCol).as("id2"), col(simhashCol).as("h2"))
    a.join(b, Seq("bkt"))
      .filter(col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      .select("bkt", "id1", "id2", "hamming")
  }

  /** SimHash near-duplicate pairs via pigeonhole banding — the
    * scale path that [[simhashNearPairs]]'s scaladoc promises: split
    * the `bits`-wide fingerprint into `maxHamming + 1` disjoint bit
    * bands; any pair within the radius must agree EXACTLY on at
    * least one band (pigeonhole: ≤ maxHamming differing bits cannot
    * touch every band), so an equi-join on (band, band_bits) finds
    * all qualifying pairs with zero false negatives; a hamming
    * verify drops the false positives.
    *
    * Scale shape: join key space per band is 2^(bits/(r+1)) — e.g.
    * 60-bit/radius-3 ⇒ 4 bands × 15 bits ⇒ 32k-value keys. Expected
    * candidates on random fingerprints ≈ (r+1)·n²/2^width vs n²/2
    * all-pairs: sub-quadratic until n approaches the band key space,
    * and band buckets (near-identical doc clusters) are the data's
    * own duplicate signal. Exact — same pairs as the all-pairs form
    * for any input (asserted by DedupSpec on the test corpus). Keep
    * radius ≲ bits/12 so bands stay ≥ 12 bits wide; a radius-9/48-bit
    * banding would leave 4-bit bands (16 buckets — quadratic again). */
  def simhashNearPairsBanded(fingerprints: DataFrame, idCol: String,
                             simhashCol: String, bits: Int,
                             maxHamming: Int): DataFrame = {
    val nBands = maxHamming + 1
    require(bits >= nBands, s"need at least $nBands bits for radius $maxHamming")
    val widths = Array.tabulate(nBands)(i =>
      bits / nBands + (if (i < bits % nBands) 1 else 0))
    val lows = widths.scanLeft(0)(_ + _)
    val bands = (0 until nBands).map { i =>
      struct(lit(i).as("band"),
        shiftright(col("h"), lows(i)).bitwiseAND(lit((1L << widths(i)) - 1)).as("bv"))
    }
    val banded = fingerprints
      .select(col(idCol).as("id"), col(simhashCol).as("h"))
      .select(col("id"), col("h"), explode(array(bands: _*)).as("b"))
      .select(col("id"), col("h"), col("b.band").as("band"), col("b.bv").as("bv"))
    val a = banded.select(col("band"), col("bv"), col("id").as("id1"), col("h").as("h1"))
    val b = banded.select(col("band"), col("bv"), col("id").as("id2"), col("h").as("h2"))
    a.join(b, Seq("band", "bv"))
      .filter(col("id1") < col("id2"))
      .withColumn("hamming", bit_count(col("h1").bitwiseXOR(col("h2"))))
      .filter(col("hamming") <= maxHamming)
      // a close pair can agree on several bands — dedup
      .select("id1", "id2", "hamming").distinct()
  }

  /** Pairwise token-set Jaccard within a bucket column; emits pairs
    * with similarity ≥ threshold (id1 < id2). `tokenSetCol` must be a
    * DISTINCT token array (set semantics), and rows must be UNIQUE
    * per (bucketCol, idCol): the df-pricing groupBy re-gathers each
    * document from its exploded tokens, so two input rows with the
    * same (bucket, id) would silently merge into one concatenated
    * token multiset (the hash-ordered ancestor kept each row its own
    * document). Empty token arrays are intentionally excluded by the
    * explode (an empty set can never generate a prefix candidate, so
    * output pairs are unaffected — but `base` carries no sz=0 rows),
    * and null-hash tokens are likewise dropped by the inner df join
    * instead of counting toward sz — readers of `base` (e.g. for
    * corpus stats) should not expect either.
    *
    * Shape: positional prefix filtering (Chaudhuri/Xiao et al., the
    * PPJoin family's prefix filter) — sort each token set by a global
    * order, and only the first |s| − ⌈t·|s|⌉ + 1 tokens generate join
    * keys. Any pair with J ≥ t shares ≥ ⌈t·max(|r|,|s|)⌉ tokens, and
    * the smallest shared token (in the global order) provably falls
    * inside BOTH prefixes, so candidate generation has zero false
    * negatives; an exact array_intersect verify on the candidates
    * drops false positives. ANY total order is exact — the order is
    * purely a candidate-count lever — and the canonical PPJoin choice
    * is ASCENDING GLOBAL DOCUMENT FREQUENCY (rarest first), computed
    * here with one groupBy over the token stream.
    *
    * Scale: the df order is what kills the high-document-frequency
    * token blow-up — a token shared by n docs generates candidates
    * only when it lands in the PREFIX of both sets, and under rarest-
    * first ordering a high-df token reaches a prefix only for sets
    * whose every rarer token is even MORE frequent. The round-10 sf10
    * sweep measured the difference on a 500k-doc corpus whose 95%-
    * majority docs carry rare replica-local token variants: hash-
    * ordered prefixes admitted the corpus-wide base tokens everywhere
    * (quadratic candidates across replicas — q44 1324 s), df-ordered
    * prefixes push those to the array tail and the majority's
    * candidates become replica-local. The residual dense family (sets
    * made ENTIRELY of ubiquitous tokens) stays quadratic under any
    * order — those pairs genuinely sit near the threshold, which is
    * output-bound work no filter can remove. Candidates are verified
    * by a linear per-pair intersect instead of enumerating every
    * shared token. Exact for any threshold ≥ t; threshold 0
    * degenerates to the full join. */
  def jaccardPairs(df: DataFrame, idCol: String, tokenSetCol: String,
                   bucketCol: String, threshold: Double,
                   ckpt: graft.io.CheckpointStrategy =
                     graft.io.CheckpointStrategy.EagerLocal): DataFrame = {
    val mat = ckpt.session("jaccard")
    // Prune bounds in EXACT integer arithmetic on the rational
    // threshold thrNum/thrDen, with thrNum = ⌊threshold·thrDen⌋ ≤
    // threshold: float forms (ceil(t·sz), t/(1+t)·(sz1+sz2)) round UP
    // by an ulp at pairs whose Jaccard sits exactly ON the threshold
    // (t=0.8, 28-token set inside 35: 0.8/1.8·63 floats to
    // 28.000…004, ceil 29 > the true α 28) and silently drop true
    // pairs. Rounding the threshold DOWN keeps every bound a valid
    // relaxation — the candidate set is a superset and the exact
    // verify still decides membership with the caller's double
    // threshold. (Deliberately NOT named P/B: Dedup.P is the minhash
    // prime used elsewhere in this file.)
    val thrDen = 1000000000L
    val thrNum = math.floor(threshold * thrDen).toLong
    // hashed token sets in ASCENDING GLOBAL DF ORDER (ties by the
    // 60-bit hash — (df, h) is a total order; h doubles as the
    // cheaper join/intersect representation, no string compares).
    // One groupBy prices the order: df per hashed token, then each
    // set re-gathers as sort_array(collect_list(struct(df, h))) —
    // collect_list is bounded by a single document's token count.
    // The df table is vocabulary-sized: tiny vocabularies broadcast
    // (AQE), Zipfian ones shuffle-join linearly. Materialized (pinned
    // via the caller's checkpoint strategy): pref, f1 and f2 all read
    // it, and exchange reuse is an optimizer courtesy, not a
    // guarantee — without it the per-token md5 + df join (the hottest
    // stage here) runs 3×. `toks` itself is NOT pinned: it feeds both
    // the tokDf aggregate and the join probe, and both exchanges
    // partition by h, so ReusedExchange collapses them; if that
    // courtesy ever lapses the md5 transform runs twice BEFORE the
    // pin — a 2× on one narrow map stage, cheaper than materializing
    // the full token stream (strictly larger than `base`) to disk.
    val toks = df.select(col(bucketCol).as("bkt"), col(idCol).as("id"),
      explode(transform(col(tokenSetCol), t => md5Long(t))).as("h"))
    val tokDf = toks.groupBy("h").agg(count(lit(1)).as("d"))
    val base = mat.pin(toks.join(tokDf, "h")
      .groupBy("bkt", "id")
      .agg(sort_array(collect_list(struct(col("d"), col("h")))).as("dh"))
      .select(col("bkt"), col("id"), size(col("dh")).as("sz"),
        transform(col("dh"), e => e.getField("h")).as("hs")))
    // Asymmetric prefixes (PPJoin's self-join probe/index split,
    // Xiao et al. TODS 2011): order each pair by (size, id) — the
    // SMALLER set probes, the larger indexes. If J(x,y) ≥ t with
    // |x| ≤ |y|, the required overlap α = ⌈t/(1+t)(|x|+|y|)⌉ is
    // ≥ ⌈2t/(1+t)·|x|⌉ (minimized at |y|=|x|) and ≥ ⌈t·|y|⌉ (via
    // |x| ≥ t|y|), and the FIRST common token in the shared global
    // order sits at 0-based position ≤ |s|−α in BOTH arrays — so it
    // provably lands in x's SHORT probe prefix
    // |x| − ⌈2t/(1+t)·|x|⌉ + 1 (≈11% of the set at t=0.8) and y's
    // standard index prefix |y| − ⌈t·|y|⌉ + 1 (≈20%). Both ceilings
    // are computed on thrNum/thrDen ≤ t, so both prefixes only
    // lengthen — candidates stay a superset of the true pairs. The
    // probe-side cut is the round-12 q44 lever: a pair is generated
    // only when a shared token falls in the smaller set's first
    // ~11%, roughly halving candidate volume vs the symmetric form.
    val plen = (col("sz")
      - expr(s"(${thrNum}L * CAST(sz AS BIGINT) + ${thrDen - 1}L) div ${thrDen}L")
      + 1).cast("int")
    val plenProbe = (col("sz")
      - expr(s"(2L * ${thrNum}L * CAST(sz AS BIGINT) + ${thrNum + thrDen - 1}L)" +
        s" div ${thrNum + thrDen}L")
      + 1).cast("int")
    val a = base.select(col("bkt"), col("id").as("id1"), col("sz").as("sz1"),
      posexplode(slice(col("hs"), lit(1), greatest(plenProbe, lit(0))))
        .as(Seq("p1", "t")))
    val b = base.select(col("bkt"), col("id").as("id2"), col("sz").as("sz2"),
      posexplode(slice(col("hs"), lit(1), greatest(plen, lit(0))))
        .as(Seq("p2", "t")))
    // PPJoin-style exact pruning BEFORE the pair-grouping shuffle:
    //  - size order: probe strictly smaller (ties by id) — each pair
    //    generated once, in probe×index orientation only;
    //  - length: J ≥ t forces t·|y| ≤ |x| (as thrDen·|x| ≥ thrNum·|y|);
    //  - position: a match at (0-based) prefix positions p1/p2 bounds
    //    the overlap by min(remaining tokens) — must still reach the
    //    required α = ⌈t/(1+t)·(|x|+|y|)⌉, relaxed to
    //    thrNum/(thrNum+thrDen).
    // shuffled-hash beats sort-merge here: residual high-multiplicity
    // keys make the sort phase pure overhead
    val alpha = expr(
      s"(${thrNum}L * (CAST(sz1 AS BIGINT) + sz2) + ${thrNum + thrDen - 1}L)" +
        s" div ${thrNum + thrDen}L")
    // Accumulated positional filter (rides the dedup shuffle the old
    // .distinct() paid anyway): per surviving pair, c = matched
    // prefix tokens, (p1m, p2m) = positions of the LAST match. The
    // global order makes every uncounted common token sit strictly
    // after (p1m, p2m) in both arrays — any earlier common token
    // would be inside both prefixes (counted) or row-filtered only
    // at deeper positions than a survivor (contradiction) — so
    // overlap ≤ c + min(sz1−1−p1m, sz2−1−p2m) is exact, and pairs
    // whose bound misses α never reach the verify join at all.
    val cand = a.join(b.hint("shuffle_hash"), Seq("bkt", "t"))
      .filter(col("sz1") < col("sz2") ||
        (col("sz1") === col("sz2") && col("id1") < col("id2")))
      .filter(col("sz1") * thrDen >= col("sz2") * thrNum)
      .filter(least(col("sz1") - col("p1"), col("sz2") - col("p2")) >= alpha)
      .groupBy("bkt", "id1", "id2")
      .agg(first(col("sz1")).as("sz1"), first(col("sz2")).as("sz2"),
        count(lit(1)).as("c"),
        max(col("p1")).as("p1m"), max(col("p2")).as("p2m"))
      .filter(col("c") + least(col("sz1") - 1 - col("p1m"),
        col("sz2") - 1 - col("p2m")) >= alpha)
      .select(col("bkt"), least(col("id1"), col("id2")).as("id1"),
        greatest(col("id1"), col("id2")).as("id2"))
    // verify pass: 1:1 joins on id (no explosion), exact set intersect.
    //
    // Join STRATEGY matters more than it looks at scale: as two
    // shuffle joins, the FIRST join's output — every candidate pair
    // with an ~|set|-long hash array attached — is itself SHUFFLED
    // for the second join, so verify traffic is
    // O(candidates × set bytes). The round-10 sf10 spot bench
    // measured that at ~90 GiB (the OOM that killed the sweep),
    // while the set table itself was only ~400 MB. The fix is NOT to
    // broadcast both sides (that trades a parallel shuffle for two
    // single-threaded driver relation builds — measured 19.1 s vs
    // 15.7 s at sf1): keep the first join a shuffle, where the
    // arrays ride ONCE at O(set table) alongside the slim candidate
    // list, and broadcast only the SECOND side (estimate below, bound
    // BroadcastVerifyBytes = 1 GiB), so the array-laden first-join
    // output never re-shuffles — the second join is map-side. Above the bound (a corpus whose
    // set table out-sizes executor memory — where the full-truth
    // pairwise verify is cluster-budget work no matter how it is
    // routed) the spillable shuffle joins remain. Results are
    // identical either way; only the physical plan changes.
    // hs rides in (df, h) prefix order; the verify re-sorts it by
    // plain h ONCE PER DOCUMENT (n·k log k) so the per-PAIR intersect
    // — the verify's real cost, one evaluation per candidate — is a
    // zero-allocation sorted merge (SortedIntersectSize) instead of
    // array_intersect's per-pair hash set + result array. Same
    // distinct-value count, so results and oracle hashes are
    // unchanged; OpBench prices the expression swap.
    val f1 = base.select(col("bkt"), col("id").as("id1"),
      col("sz").as("sz1"), sort_array(col("hs")).as("hs1"))
    val f2 = base.select(col("bkt"), col("id").as("id2"),
      col("sz").as("sz2"), sort_array(col("hs")).as("hs2"))
    // cheap: base is pinned (materialized) above, so this aggregate
    // reads the checkpoint blocks, not the shingle pipeline
    val Row(nDocs: Long, sumSz: Long) = base
      .agg(count(lit(1)).cast("long"), coalesce(sum("sz"), lit(0L)).cast("long"))
      .head()
    // 8 B per hashed token + ~64 B/row of ids, sizes and row overhead
    val setTableBytes = sumSz * 8 + nDocs * 64
    val v2 = if (setTableBytes <= BroadcastVerifyBytes) broadcast(f2) else f2
    cand.join(f1, Seq("bkt", "id1")).join(v2, Seq("bkt", "id2"))
      .withColumn("inter",
        graft.functions.SortedIntersectSize(col("hs1"), col("hs2")))
      .withColumn("jaccard", col("inter") / (col("sz1") + col("sz2") - col("inter")))
      .filter(col("jaccard") >= threshold)
      .select("bkt", "id1", "id2", "jaccard")
  }

  /** Largest estimated set table [[jaccardPairs]] broadcasts into its
    * verify join (1 GiB); larger corpora keep the spillable shuffle
    * join. Measured on q44 at sf1 (round 10, warm, separate JVMs):
    * broadcast verify 17.3/17.5 s stable, double shuffle 41-90 s (the
    * candidates × arrays shuffle spills). DIAG_Q44.json records the
    * candidate vs surviving-pair split at sf1 and sf10. */
  private val BroadcastVerifyBytes = 1L << 30
}
