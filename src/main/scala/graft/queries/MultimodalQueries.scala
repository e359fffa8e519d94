package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.io.Sources.table
import graft.multimodal.Multimodal

/** Multimodal plumbing exercised end-to-end: binary column → batched
  * decode → typed metadata → aggregation. q60/q62/q63 run the REAL
  * pure-JVM netpbm codec (Multimodal.decodeNetpbm) over genuinely
  * encoded P6/P5 payloads staged by Multimodal.withNetpbmColumn;
  * oracle-checked because the fixture's raster is the document text's
  * bytes cycled, so every decoded statistic is independently
  * derivable from the text in SQL (the corpus is ASCII: ord == byte).
  * q61 keeps the documented frame-count stub (still images have no
  * frames) for the video fan-out shape. */
object MultimodalQueries extends QueryModule {

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Magic-byte format sniffing — the FIRST pass any multimodal
    // ingest runs over an opaque binary column: read the leading
    // bytes, classify the container, route downstream decode. Runs
    // against the REAL encoded netpbm payloads and reads the actual
    // bytes (substring of binary → ASCII magic), never metadata.
    // Narrow map + vocabulary-bounded agg (≤3 format rows); the
    // oracle re-derives each payload's format AND exact byte length
    // analytically from the encoder contract — so the sniffer, the
    // encoder, and the header arithmetic must all agree to hash.
    "qFF_format_sniff" -> ((s, dir) => {
      Multimodal.withNetpbmColumn(table(s, dir, "documents"))
        .select(col("doc_id"),
          substring(col("media"), 1, 2).cast("string").as("magic"),
          length(col("media")).cast("long").as("n_bytes"))
        .withColumn("format",
          when(col("magic") === "P6", "ppm")
            .when(col("magic") === "P5", "pgm").otherwise("unknown"))
        .groupBy("format")
        .agg(count(lit(1)).as("n_payloads"),
          sum("n_bytes").as("total_bytes"),
          min("n_bytes").as("min_bytes"),
          max("n_bytes").as("max_bytes"))
    }),

    // Frame sampling: every 5th frame of each decoded media payload
    // (the video→frames fan-out shape: a narrow generate, one row per
    // sampled frame, bounded per input row).
    "q61_frame_sample" -> ((s, dir) => {
      val docs = Multimodal.withMediaColumn(table(s, dir, "documents"))
      Multimodal.decodeMeta(docs).toDF()
        .withColumn("frame_idx",
          explode(sequence(lit(0), col("n_frames") - 1, lit(5))))
        .select(col("doc_id"), col("frame_idx"),
          (col("width") * col("height")).as("pixels"))
    }),

    // Resize planning over REAL decoded netpbm dimensions (aspect-
    // preserving fit into an 8px bounding box — small because the
    // synthetic rasters are ≤16×12; integer per-mille arithmetic,
    // never upscales).
    "q62_media_resize" -> ((s, dir) => {
      val docs = Multimodal.withNetpbmColumn(table(s, dir, "documents"))
      val meta = Multimodal.decodeNetpbmMeta(docs).toDF()
      val (rw, rh) = Multimodal.resizeDims(col("width"), col("height"), 8)
      meta.select(col("doc_id"), col("width"), col("height"),
        rw.as("rw"), rh.as("rh"))
    }),

    // Feature extraction from the REAL pixel walk: an 8-dim vector of
    // decoded image statistics per payload (dims/channels/byte count
    // + sum/min/first/last pixel), flattened to (doc_id, dim, feat)
    // scalar rows — all exact integers cast to double, so the oracle
    // hash-checks bit-for-bit.
    "q63_media_features" -> ((s, dir) => {
      val docs = Multimodal.withNetpbmColumn(table(s, dir, "documents"))
      Multimodal.decodeNetpbmMeta(docs).toDF()
        .select(col("doc_id"), posexplode(array(
          col("width").cast("double"), col("height").cast("double"),
          col("channels").cast("double"), col("n_bytes").cast("double"),
          col("sum_px").cast("double"), col("min_px").cast("double"),
          col("first_px").cast("double"), col("last_px").cast("double")
        )).as(Seq("dim", "feat")))
    }),

    // Per-format rollup of REAL decoded metadata + raster statistics:
    // the "what's in this media corpus" audit. sum_px/max_px come
    // from the decoder's full pixel walk — a header-only fake cannot
    // produce them.
    "q60_media_meta" -> ((s, dir) => {
      val docs = Multimodal.withNetpbmColumn(table(s, dir, "documents"))
      Multimodal.decodeNetpbmMeta(docs).toDF()
        .groupBy("format")
        .agg(count(lit(1)).as("n"),
          sum("width").as("sum_w"), sum("height").as("sum_h"),
          sum("sum_px").as("sum_px"), max("max_px").as("max_px"))
    }),

    // REAL audio decode end-to-end: RIFF/WAVE PCM16 payloads staged
    // from document text (genuinely encoded: container + fmt chunk +
    // junk LIST chunk + little-endian samples), decoded by the
    // pure-JVM chunk-walking parser (Multimodal.decodeWav), per-doc
    // sample statistics emitted exactly (all integers — PCM has no
    // float ambiguity). The decode is a narrow batched mapPartitions:
    // no shuffle, constant memory, the same 100 TB shape as the image
    // path. Every stat (incl. Σs² energy) requires the full sample
    // walk — a header-only fake cannot produce them.
    "qEC_wav_stats" -> ((s, dir) => {
      val docs = Multimodal.withWavColumn(table(s, dir, "documents"))
      Multimodal.decodeWavMeta(docs).toDF()
        .select("doc_id", "channels", "sample_rate", "n_samples",
          "sum_s", "min_s", "max_s", "first_s", "last_s", "energy")
    }),

    // Perceptual-hash near-duplicate detection over REAL decoded
    // pixels — the image-dedup analogue of q54's banded simhash, now
    // with the true kernel: grayscale luma → 8×8 nearest-neighbor
    // sample → separable integer 8×8 DCT-II (fixed-point 2^14 basis)
    // → 63 AC coefficients thresholded at their mean, compared
    // exactly as 63·c > Σ (Multimodal.phash64 — mean, not median:
    // tied-at-median spectra flip en masse under jitter). A planted jittered twin per doc_id%20==0
    // (+1 on every 13th raster byte, Multimodal.jitterNetpbm) makes
    // recall measurable: near-identical images MUST band together.
    // Pigeonhole banding into 4×16-bit keys guarantees zero false
    // negatives at Hamming radius 3 (4 bands, ≤3 flipped bits ⇒ ≥1
    // band untouched); candidates come only from band-key equality
    // (never all-pairs) and the verify is one xor + bit_count per
    // CANDIDATE. The whole pipeline is exact-integer, so the DuckDB
    // oracle mirrors it bit-for-bit from the fixture's text.
    "qC2_phash_media_dedup" -> ((s, dir) => {
      import s.implicits._
      // Multimodal.MinPhashDim gate: tiny (1×N / 2×N) rasters are
      // text lines, not images — a perceptual hash cannot compare
      // them, and at sf1 their shared structural spectra degenerated
      // the banding into 15.3M quadratic candidate pairs. Gating is
      // what a production image-dedup ingest does; the oracle
      // mirrors the same least(w, h) >= 5 filter.
      val docs = Multimodal.withNetpbmColumn(table(s, dir, "documents"))
      val twins = docs.filter(col("doc_id") % 20 === 0)
        .as[(Long, Array[Byte])]
        .map { case (id, p) => (id + TwinOffset, Multimodal.jitterNetpbm(p)) }
        .toDF("doc_id", "media")
      val h = docs.unionByName(twins)
        .as[(Long, Array[Byte])]
        .mapPartitions(_.flatMap { case (id, p) =>
          Multimodal.phash64Gated(p).map(ph => (id, ph)) })
        .toDF("doc_id", "ph")
      val bands = h.select(col("doc_id"), col("ph"),
          explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bv", expr("shiftright(ph, band * 16) & 65535"))
      val cand = bands.as("a").join(bands.as("b"),
          col("a.band") === col("b.band") && col("a.bv") === col("b.bv")
            && col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("id1"), col("b.doc_id").as("id2"))
        .distinct()
      cand
        .join(h.select(col("doc_id").as("id1"), col("ph").as("ph1")), "id1")
        .join(h.select(col("doc_id").as("id2"), col("ph").as("ph2")), "id2")
        .select(col("id1"), col("id2"),
          expr("bit_count(ph1 ^ ph2)").as("hamming"))
        .withColumn("is_near", col("hamming") <= 3)
    })
  )

  /** Twin ids live far above any real doc_id at every SF. */
  val TwinOffset = 1000000000L

  /** [[Multimodal.DctTable]] inlined as a SQL VALUES relation
    * `dctt(u, x, v)` — the oracle uses the SAME integers the engine
    * computed, so no cosine is ever evaluated cross-engine. */
  private def dctTableSql: String = {
    val rows = for (u <- 0 until 8; x <- 0 until 8)
      yield s"($u, $x, ${Multimodal.DctTable(u)(x)})"
    s"dctt(u, x, v) AS (SELECT * FROM (VALUES ${rows.mkString(", ")}) t(u, x, v))"
  }

  // the netpbm fixture mirrored analytically: w = len%16+1,
  // h = len%12+1, channels = 3 (even len, P6) | 1 (odd, P5), raster
  // byte j = text byte (j % len) — so pixel stats are series sums
  // over ord(substr(text, …)). Constant series bound 576 =
  // max w (16) · max h (12) · 3 channels; the j < n_bytes filter
  // trims per doc (the DuckDB constant-bounds generate_series rule).
  private val netpbmMetaSql =
    """m AS (
         SELECT doc_id, text, strlen(text) AS len,
           CASE WHEN strlen(text) % 2 = 0 THEN 'ppm' ELSE 'pgm' END AS format,
           CAST(strlen(text) % 16 + 1 AS INTEGER) AS width,
           CAST(strlen(text) % 12 + 1 AS INTEGER) AS height,
           CAST(CASE WHEN strlen(text) % 2 = 0 THEN 3 ELSE 1 END AS INTEGER) AS channels,
           CAST((strlen(text) % 16 + 1) * (strlen(text) % 12 + 1)
             * (CASE WHEN strlen(text) % 2 = 0 THEN 3 ELSE 1 END) AS INTEGER) AS n_bytes
         FROM documents),
       px AS (
         SELECT doc_id,
           CAST(sum(ord(substr(text, CAST(g.j % len AS INTEGER) + 1, 1))) AS BIGINT) AS sum_px,
           CAST(min(ord(substr(text, CAST(g.j % len AS INTEGER) + 1, 1))) AS INTEGER) AS min_px,
           CAST(max(ord(substr(text, CAST(g.j % len AS INTEGER) + 1, 1))) AS INTEGER) AS max_px
         FROM m, generate_series(0, 575) g(j)
         WHERE g.j < n_bytes
         GROUP BY doc_id)"""

  def oracles: Map[String, String] = Map(
    // the encoder contract mirrored analytically: header is
    // "P6\n# graft synthetic raster\n<w> <h>\n255\n" = 34 + digits
    // of w and h; raster is w·h·channels bytes
    "qFF_format_sniff" ->
      """WITH m AS (
           SELECT doc_id,
             CASE WHEN strlen(text) % 2 = 0 THEN 'ppm' ELSE 'pgm' END AS format,
             strlen(text) % 16 + 1 AS width,
             strlen(text) % 12 + 1 AS height,
             CASE WHEN strlen(text) % 2 = 0 THEN 3 ELSE 1 END AS channels
           FROM documents),
         b AS (
           SELECT format,
             CAST(34 + strlen(CAST(width AS VARCHAR))
               + strlen(CAST(height AS VARCHAR))
               + width * height * channels AS BIGINT) AS n_bytes
           FROM m)
         SELECT format, CAST(count(*) AS BIGINT) AS n_payloads,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(min(n_bytes) AS BIGINT) AS min_bytes,
           CAST(max(n_bytes) AS BIGINT) AS max_bytes
         FROM b GROUP BY format""",

    "q62_media_resize" ->
      s"""WITH $netpbmMetaSql,
         s AS (
           SELECT doc_id, width, height,
             least(floor(8000 / greatest(width, height)), 1000.0) AS scale
           FROM m)
         SELECT doc_id, width, height,
           CAST(floor(width * scale / 1000.0) AS INT) AS rw,
           CAST(floor(height * scale / 1000.0) AS INT) AS rh
         FROM s""",

    "q63_media_features" ->
      s"""WITH $netpbmMetaSql
         SELECT m.doc_id, CAST(g.d AS INTEGER) AS dim,
           CAST(CASE g.d
             WHEN 0 THEN width WHEN 1 THEN height
             WHEN 2 THEN channels WHEN 3 THEN n_bytes
             WHEN 4 THEN sum_px WHEN 5 THEN min_px
             WHEN 6 THEN ord(substr(text, 1, 1))
             ELSE ord(substr(text, CAST((n_bytes - 1) % len AS INTEGER) + 1, 1))
           END AS DOUBLE) AS feat
         FROM m JOIN px USING (doc_id), generate_series(0, 7) g(d)""",

    "q61_frame_sample" ->
      """WITH m AS (
           SELECT doc_id,
             (strlen(text) % 64 + 1) * 8 AS width,
             (strlen(text) % 48 + 1) * 8 AS height,
             strlen(text) % 30 + 1 AS n_frames
           FROM documents)
         SELECT doc_id, CAST(g.f AS INTEGER) AS frame_idx, CAST(width * height AS INTEGER) AS pixels
         FROM m, generate_series(0, 29, 5) g(f)
         WHERE g.f <= n_frames - 1""",

    "q60_media_meta" ->
      s"""WITH $netpbmMetaSql
         SELECT format, count(*) AS n,
           CAST(sum(width) AS BIGINT) AS sum_w, CAST(sum(height) AS BIGINT) AS sum_h,
           CAST(sum(sum_px) AS BIGINT) AS sum_px, max(max_px) AS max_px
         FROM m JOIN px USING (doc_id) GROUP BY format""",

    // the WAV fixture mirrored analytically: channels = 2 (even len)
    // | 1 (odd), rate = 8000·(len%3+1), frames = len%32+4, sample j =
    // (ord(text byte j%len) − 128)·256. Constant series bound 70 =
    // max frames (35) · 2 channels; j < n_samples trims per doc.
    "qEC_wav_stats" ->
      """WITH m AS (
           SELECT doc_id, text, strlen(text) AS len,
             CAST(CASE WHEN strlen(text) % 2 = 0 THEN 2 ELSE 1 END AS INTEGER) AS channels,
             CAST(8000 * (strlen(text) % 3 + 1) AS INTEGER) AS sample_rate,
             CAST((strlen(text) % 32 + 4)
               * (CASE WHEN strlen(text) % 2 = 0 THEN 2 ELSE 1 END) AS INTEGER) AS n_samples
           FROM documents),
         sm AS (
           SELECT doc_id,
             CAST(sum((ord(substr(text, CAST(g.j % len AS INTEGER) + 1, 1)) - 128) * 256) AS BIGINT) AS sum_s,
             CAST(min((ord(substr(text, CAST(g.j % len AS INTEGER) + 1, 1)) - 128) * 256) AS INTEGER) AS min_s,
             CAST(max((ord(substr(text, CAST(g.j % len AS INTEGER) + 1, 1)) - 128) * 256) AS INTEGER) AS max_s,
             CAST(sum(CAST((ord(substr(text, CAST(g.j % len AS INTEGER) + 1, 1)) - 128) * 256 AS BIGINT)
               * ((ord(substr(text, CAST(g.j % len AS INTEGER) + 1, 1)) - 128) * 256)) AS BIGINT) AS energy
           FROM m, generate_series(0, 69) g(j)
           WHERE g.j < n_samples
           GROUP BY doc_id)
         SELECT m.doc_id, channels, sample_rate, n_samples,
           sum_s, min_s, max_s,
           CAST((ord(substr(text, 1, 1)) - 128) * 256 AS INTEGER) AS first_s,
           CAST((ord(substr(text, CAST((n_samples - 1) % len AS INTEGER) + 1, 1)) - 128) * 256 AS INTEGER) AS last_s,
           energy
         FROM m JOIN sm USING (doc_id)""",

    // full DCT-pHash mirror: the encoder contract (raster byte j =
    // text byte j % len, +1 jitter on j % 13 = 0 for the planted
    // twins), the identical integer luma / nearest-neighbor sample /
    // separable DCT over the inlined dctt basis / exact mean
    // threshold (63·c > Σ), then the same 4×16-bit bands and xor + bit_count
    // verify. Every intermediate is exact-integer.
    "qC2_phash_media_dedup" -> phashOracleSql
  )

  private def phashOracleSql: String = {
    // raster byte k of the (possibly jittered) payload, from text
    def b(k: String) =
      s"(ord(substr(text, CAST(($k) % len AS INTEGER) + 1, 1))" +
        s" + CASE WHEN jit = 1 AND ($k) % 13 = 0 THEN 1 ELSE 0 END)"
    // sampled pixel index for 8×8-grid cell (i, j)
    val p = "(((gj.j * h) // 8) * w + (gi.i * w) // 8)"
    s"""WITH m AS (
           SELECT doc_id, text, strlen(text) AS len,
             CAST(strlen(text) % 16 + 1 AS INTEGER) AS w,
             CAST(strlen(text) % 12 + 1 AS INTEGER) AS h,
             (strlen(text) % 2 = 0) AS color
           FROM documents
           WHERE least(strlen(text) % 16 + 1, strlen(text) % 12 + 1)
                   >= ${Multimodal.MinPhashDim}),
         pu AS (
           SELECT doc_id, text, len, w, h, color, 0 AS jit FROM m
           UNION ALL
           SELECT doc_id + $TwinOffset, text, len, w, h, color, 1
           FROM m WHERE doc_id % 20 = 0),
         $dctTableSql,
         cell AS (
           SELECT doc_id, gi.i AS i, gj.j AS j,
             CAST(CASE WHEN color
               THEN (299 * ${b(s"3 * $p")} + 587 * ${b(s"3 * $p + 1")}
                     + 114 * ${b(s"3 * $p + 2")}) // 1000
               ELSE ${b(p)} END AS BIGINT) AS g
           FROM pu, generate_series(0, 7) gi(i), generate_series(0, 7) gj(j)),
         rowd AS (
           SELECT doc_id, t.u AS u, c.j AS j, CAST(sum(c.g * t.v) AS BIGINT) AS r
           FROM cell c JOIN dctt t ON t.x = c.i
           GROUP BY doc_id, t.u, c.j),
         coef AS (
           SELECT doc_id, r.u AS u, t.u AS v, CAST(sum(r.r * t.v) AS BIGINT) AS c
           FROM rowd r JOIN dctt t ON t.x = r.j
           GROUP BY doc_id, r.u, t.u),
         med AS (
           SELECT doc_id, CAST(sum(c) AS BIGINT) AS acsum
           FROM coef WHERE NOT (u = 0 AND v = 0) GROUP BY doc_id),
         phh AS (
           SELECT c.doc_id,
             CAST(sum(CASE WHEN 63 * c.c > md.acsum
               THEN CAST(1 AS BIGINT) << (c.u * 8 + c.v - 1)
               ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS ph
           FROM coef c JOIN med md USING (doc_id)
           WHERE NOT (c.u = 0 AND c.v = 0)
           GROUP BY c.doc_id),
         bnd AS (
           SELECT doc_id, ph, g.i AS band, (ph >> (g.i * 16)) & 65535 AS bv
           FROM phh, generate_series(0, 3) g(i)),
         cand AS (
           SELECT DISTINCT a.doc_id AS id1, b2.doc_id AS id2
           FROM bnd a JOIN bnd b2
             ON a.band = b2.band AND a.bv = b2.bv AND a.doc_id < b2.doc_id)
         SELECT id1, id2,
           CAST(bit_count(xor(h1.ph, h2.ph)) AS INTEGER) AS hamming,
           bit_count(xor(h1.ph, h2.ph)) <= 3 AS is_near
         FROM cand
         JOIN phh h1 ON h1.doc_id = id1
         JOIN phh h2 ON h2.doc_id = id2"""
  }
}
