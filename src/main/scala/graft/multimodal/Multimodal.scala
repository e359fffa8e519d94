package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset, Row, SparkSession}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing (builder brief): media payloads are
  * opaque `binary` columns with typed metadata; decode / feature
  * extraction runs as a batched per-partition map — the Scala
  * analogue of `mapInPandas` (iterator-of-batches, constant memory,
  * no per-row closure dispatch).
  *
  * The image decode is REAL: a pure-JVM netpbm parser
  * ([[decodeNetpbm]]) handling both P6 (PPM, RGB) and P5 (PGM,
  * grayscale) — magic, whitespace/`#`-comment header tokens, maxval
  * validation, raster-length check, and a full pixel walk for
  * channel statistics. The fixture ([[withNetpbmColumn]]) stages
  * genuinely encoded netpbm bytes (header + raster) so the decoder
  * exercises every branch. Only two knowingly-synthetic pieces
  * remain, each documented at its definition: the video FRAME count
  * ([[decodeStub]], still images have no frames — q61's fan-out
  * demo) and qC2's pHash content hash.
  */
object Multimodal {

  /** Metadata emitted per decoded media payload. */
  case class MediaMeta(doc_id: Long, width: Int, height: Int,
                       n_frames: Int, format: String)

  /** STUB decoder retained ONLY for the video-frame fan-out demo
    * (q61): still-image formats have no frame count, so n_frames is
    * deterministic pseudo-metadata from the payload length. Image
    * decode proper is the REAL [[decodeNetpbm]] below. */
  def decodeStub(payload: Array[Byte]): (Int, Int, Int, String) = {
    val len = payload.length
    val width = (len % 64 + 1) * 8
    val height = (len % 48 + 1) * 8
    val frames = len % 30 + 1
    val fmt = if (len % 2 == 0) "png" else "jpeg"
    (width, height, frames, fmt)
  }

  /** Resize planning: scale (w, h) to fit a bounding box preserving
    * aspect ratio — pure integer arithmetic over the metadata (the
    * actual pixel resample lives behind the codec stub). */
  def resizeDims(w: org.apache.spark.sql.Column, h: org.apache.spark.sql.Column,
                 maxSide: Int): (org.apache.spark.sql.Column, org.apache.spark.sql.Column) = {
    val longSide = greatest(w, h)
    // scale in per-mille, capped at 1000 (never upscale). Explicit
    // floor() everywhere: Spark's numeric cast truncates while
    // DuckDB's rounds, so a bare cast would diverge cross-engine.
    val scale = least(floor(lit(maxSide * 1000) / longSide), lit(1000.0))
    (floor(w * scale / 1000.0).cast("int"), floor(h * scale / 1000.0).cast("int"))
  }

  /** Attach a binary media column (here: the UTF-8 payload of `text`
    * stands in for image bytes) — the schema shape a real ingest
    * would produce. */
  def withMediaColumn(docs: DataFrame): DataFrame =
    docs.withColumn("media", col("text").cast("binary"))

  /** Decoded netpbm metadata + pixel statistics — what a real image
    * ingest keeps per payload. */
  case class NetpbmMeta(doc_id: Long, format: String, width: Int,
                        height: Int, maxval: Int, channels: Int,
                        n_bytes: Int, sum_px: Long, min_px: Int,
                        max_px: Int, first_px: Int, last_px: Int)

  /** Encode a REAL netpbm image from a document's text: even byte
    * lengths become P6 (RGB PPM), odd become P5 (grayscale PGM);
    * dimensions derive from the length (w = len%16+1, h = len%12+1,
    * so the header is data-dependent) and the raster is the text's
    * bytes cycled to fill w·h·channels — genuine content, and every
    * stat the decoder computes is independently derivable from the
    * text (which is how the DuckDB oracles mirror it). The header
    * carries a `#` comment line so the parser's comment handling is
    * exercised on every payload. */
  def encodeNetpbm(text: String): Array[Byte] = {
    val tb = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val len = tb.length
    require(len > 0, "encodeNetpbm: empty text")
    val w = len % 16 + 1
    val h = len % 12 + 1
    val color = len % 2 == 0
    val n = w * h * (if (color) 3 else 1)
    val header = (if (color) "P6" else "P5") +
      s"\n# graft synthetic raster\n$w $h\n255\n"
    val hb = header.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val out = new Array[Byte](hb.length + n)
    System.arraycopy(hb, 0, out, 0, hb.length)
    var i = 0
    while (i < n) { out(hb.length + i) = tb(i % len); i += 1 }
    out
  }

  /** Parsed netpbm header: magic/dimensions/maxval plus the raster
    * byte offset — shared by the stats decoder, the grayscale
    * decoder, and the jitter twin below. */
  private[multimodal] case class NetpbmHeader(color: Boolean, w: Int,
      h: Int, maxval: Int, rasterOffset: Int) {
    def channels: Int = if (color) 3 else 1
  }

  /** Header parse with whitespace and `#`-comment skipping, maxval
    * validation, and a raster-length check. Rejects malformed
    * payloads loudly — a corrupt header must not decode to garbage. */
  private[multimodal] def parseNetpbmHeader(payload: Array[Byte]): NetpbmHeader = {
    require(payload.length >= 2 && payload(0) == 'P',
      "netpbm: bad magic")
    val color = payload(1) match {
      case '6' => true
      case '5' => false
      case m => throw new IllegalArgumentException(s"netpbm: unsupported magic P${m.toChar}")
    }
    var i = 2
    def isWs(b: Byte) = b == ' ' || b == '\n' || b == '\r' || b == '\t'
    def nextInt(): Int = {
      var skipping = true
      while (skipping) {
        while (i < payload.length && isWs(payload(i))) i += 1
        if (i < payload.length && payload(i) == '#') {
          while (i < payload.length && payload(i) != '\n') i += 1
        } else skipping = false
      }
      require(i < payload.length && payload(i) >= '0' && payload(i) <= '9',
        "netpbm: expected header integer")
      // accumulate in Long with a bound: Int arithmetic would WRAP on
      // an adversarial 10+-digit header and sneak past the sanity
      // requires below (fail-loudly contract)
      var v = 0L
      while (i < payload.length && payload(i) >= '0' && payload(i) <= '9') {
        v = v * 10 + (payload(i) - '0'); i += 1
        require(v <= Int.MaxValue, "netpbm: header integer overflow")
      }
      v.toInt
    }
    val w = nextInt(); val h = nextInt(); val maxval = nextInt()
    require(maxval == 255, s"netpbm: unsupported maxval $maxval")
    require(i < payload.length && isWs(payload(i)),
      "netpbm: missing raster separator")
    i += 1 // spec: EXACTLY one whitespace byte, then the raster
    // w·h·channels in Long: the Int product wraps at ~2^31 pixels and
    // a wrapped small n would ACCEPT a corrupt huge-dimension header
    val nL = w.toLong * h * (if (color) 3 else 1)
    require(nL > 0 && payload.length - i >= nL, "netpbm: truncated raster")
    NetpbmHeader(color, w, h, maxval, i)
  }

  /** REAL pure-JVM netpbm decoder: parses the header via
    * [[parseNetpbmHeader]], then walks every raster byte for
    * sum/min/max/first/last statistics. */
  def decodeNetpbm(payload: Array[Byte]): (String, Int, Int, Int, Int, Int, Long, Int, Int, Int, Int) = {
    val hd = parseNetpbmHeader(payload)
    val i = hd.rasterOffset
    val n = hd.w * hd.h * hd.channels
    var sum = 0L; var mn = 255; var mx = 0
    val first = payload(i) & 0xff
    val last = payload(i + n - 1) & 0xff
    var j = 0
    while (j < n) {
      val b = payload(i + j) & 0xff
      sum += b
      if (b < mn) mn = b
      if (b > mx) mx = b
      j += 1
    }
    (if (hd.color) "ppm" else "pgm", hd.w, hd.h, hd.maxval, hd.channels,
      n, sum, mn, mx, first, last)
  }

  /** Grayscale luma plane from a netpbm payload: P5 rasters verbatim,
    * P6 via the integer ITU-601 luma (299·R + 587·G + 114·B) / 1000
    * with floor division — exact integers, so the DuckDB pHash oracle
    * reconstructs the identical plane from the fixture's text. */
  def decodeNetpbmGray(payload: Array[Byte]): (Int, Int, Array[Int]) = {
    val hd = parseNetpbmHeader(payload)
    val base = hd.rasterOffset
    val gray = new Array[Int](hd.w * hd.h)
    var p = 0
    while (p < gray.length) {
      gray(p) =
        if (hd.color) {
          val r = payload(base + 3 * p) & 0xff
          val g = payload(base + 3 * p + 1) & 0xff
          val b = payload(base + 3 * p + 2) & 0xff
          (299 * r + 587 * g + 114 * b) / 1000
        } else payload(base + p) & 0xff
      p += 1
    }
    (hd.w, hd.h, gray)
  }

  /** 8×8 DCT-II basis, fixed-point 2^14: T(u)(x) = round(2^14 ·
    * cos(π·(2x+1)·u / 16)). Generated ONCE here and inlined as
    * integer literals into the DuckDB oracle (MultimodalQueries
    * .dctTableSql), so the perceptual-hash pipeline is exact-integer
    * on both engines — no cross-engine cosine evaluation anywhere. */
  lazy val DctTable: Array[Array[Long]] = Array.tabulate(8, 8)((u, x) =>
    Math.round(16384.0 * Math.cos(Math.PI * (2 * x + 1) * u / 16.0)))

  /** 63-bit perceptual hash (the classic DCT pHash, integer-exact):
    * nearest-neighbor-sample the luma plane onto an 8×8 grid
    * (g8(i)(j) = gray at x = ⌊i·w/8⌋, y = ⌊j·h/8⌋ — handles both the
    * fixture's tiny rasters and real down-scales uniformly), run a
    * separable integer 8×8 DCT-II through [[DctTable]], drop the DC
    * coefficient, and set bit (u·8 + v − 1) when coefficient (u,v)
    * exceeds the MEAN of the 63 AC coefficients — compared exactly as
    * 63·c > Σ, no division. Mean (not median) is load-bearing for
    * stability: structured rasters tie many coefficients at the
    * median ELEMENT, so a ±1 jitter that moves the 32nd-smallest
    * value flips every tied bit at once, while the mean moves
    * continuously and only near-mean bits can flip (measured: planted
    * twins ≤ 2 bits vs up to 14 under the median). Magnitudes stay
    * < 2^49 (255·2^14·8 per stage-1 term, ×2^14·8 stage 2, ×63 for
    * the mean compare), so every value fits a BIGINT oracle-side. */
  def phash64(payload: Array[Byte]): Long = {
    val (w, h, gray) = decodeNetpbmGray(payload)
    val g8 = Array.tabulate(8, 8)((i, j) => gray((j * h / 8) * w + i * w / 8).toLong)
    // separable DCT: stage 1 over x (r(u)(j)), stage 2 over y
    val r = Array.tabulate(8, 8) { (u, j) =>
      var s = 0L; var x = 0
      while (x < 8) { s += g8(x)(j) * DctTable(u)(x); x += 1 }
      s
    }
    val coef = Array.tabulate(8, 8) { (u, v) =>
      var s = 0L; var y = 0
      while (y < 8) { s += r(u)(y) * DctTable(v)(y); y += 1 }
      s
    }
    val ac = new Array[Long](63)
    var k = 0
    var u = 0
    while (u < 8) {
      var v = 0
      while (v < 8) {
        if (u != 0 || v != 0) { ac(k) = coef(u)(v); k += 1 }
        v += 1
      }
      u += 1
    }
    var acSum = 0L
    var q = 0
    while (q < 63) { acSum += ac(q); q += 1 }
    var ph = 0L
    var p = 0
    while (p < 63) {
      if (63L * ac(p) > acSum) ph |= 1L << p
      p += 1
    }
    ph
  }

  /** Minimum raster dimension for a MEANINGFUL perceptual hash: below
    * it the 8×8 sample duplicates whole rows/columns, the spectrum
    * collapses onto a structural pattern shared across same-shaped
    * payloads, and banding degenerates into quadratic equal-hash
    * groups (measured at sf1: un-gated qC2 emitted 15.3M candidate
    * pairs, 874k of them hamming-0 text-line "images"; gated, the
    * largest equal-hash group is 18). A production image-dedup
    * pipeline gates tiny images for exactly this reason. */
  val MinPhashDim = 5

  /** [[phash64]] behind the [[MinPhashDim]] gate — None for rasters a
    * perceptual hash cannot meaningfully compare. */
  def phash64Gated(payload: Array[Byte]): Option[Long] = {
    val hd = parseNetpbmHeader(payload)
    if (math.min(hd.w, hd.h) < MinPhashDim) None else Some(phash64(payload))
  }

  /** Deterministic near-duplicate twin: +1 on every 13th raster byte —
    * a ≲0.5% luma perturbation that leaves the DCT signs of all but
    * the near-median coefficients unchanged, so planted twins land
    * within the qC2 banding radius. Analytic from the encoder
    * contract (raster byte j = text byte j % len), so the DuckDB
    * oracle rebuilds the twin from text alone. */
  def jitterNetpbm(payload: Array[Byte]): Array[Byte] = {
    val hd = parseNetpbmHeader(payload)
    val out = payload.clone()
    val n = hd.w * hd.h * hd.channels
    var j = 0
    while (j < n) {
      val b = out(hd.rasterOffset + j) & 0xff
      require(b < 255, "jitterNetpbm: byte would overflow")
      out(hd.rasterOffset + j) = (b + 1).toByte
      j += 13
    }
    out
  }

  /** Fixture: stage really-encoded netpbm bytes per document (the
    * binary column a media ingest lands). */
  def withNetpbmColumn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id, encodeNetpbm(t)) }
      .toDF("doc_id", "media")
  }

  /** Batched REAL decode: mapPartitions over (id, payload) rows
    * through [[decodeNetpbm]] — same narrow constant-memory iterator
    * shape as [[decodeMeta]], but the codec is genuine. */
  def decodeNetpbmMeta(docsWithMedia: DataFrame): Dataset[NetpbmMeta] = {
    val spark = docsWithMedia.sparkSession
    import spark.implicits._
    docsWithMedia.select(col("doc_id"), col("media"))
      .filter(col("doc_id").isNotNull && col("media").isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, payload) =>
          val (fmt, w, h, maxval, c, n, sum, mn, mx, first, last) =
            decodeNetpbm(payload)
          NetpbmMeta(id, fmt, w, h, maxval, c, n, sum, mn, mx, first, last)
        }
      }
  }

  /** Decoded WAV metadata + sample statistics — what a real audio
    * ingest keeps per payload. All-integer (PCM16 samples), so the
    * oracle mirrors every field exactly. */
  case class WavMeta(doc_id: Long, channels: Int, sample_rate: Int,
                     n_samples: Int, sum_s: Long, min_s: Int,
                     max_s: Int, first_s: Int, last_s: Int,
                     energy: Long)

  /** Encode a REAL RIFF/WAVE PCM16 payload from a document's text:
    * channels (mono/stereo), sample rate, and frame count derive from
    * the text length, and each little-endian int16 sample is
    * `(byte − 128) · 256` over the text's bytes cycled — genuine
    * content, every statistic independently derivable from the text
    * (how the DuckDB oracle mirrors it). A junk `LIST` chunk sits
    * between `fmt ` and `data` so the decoder's unknown-chunk
    * skipping is exercised on every payload. */
  def encodeWav(text: String): Array[Byte] = {
    val tb = text.getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val len = tb.length
    require(len > 0, "encodeWav: empty text")
    val channels = if (len % 2 == 0) 2 else 1
    val sampleRate = 8000 * (len % 3 + 1)
    val nFrames = len % 32 + 4
    val nSamples = nFrames * channels
    val dataSize = nSamples * 2
    val listBody = "INFOgrft".getBytes(java.nio.charset.StandardCharsets.US_ASCII)
    val riffSize = 4 + (8 + 16) + (8 + listBody.length) + (8 + dataSize)
    val buf = java.nio.ByteBuffer.allocate(8 + riffSize)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.put("RIFF".getBytes("US-ASCII")).putInt(riffSize)
      .put("WAVE".getBytes("US-ASCII"))
    buf.put("fmt ".getBytes("US-ASCII")).putInt(16)
      .putShort(1.toShort)                       // PCM
      .putShort(channels.toShort)
      .putInt(sampleRate)
      .putInt(sampleRate * channels * 2)         // byte rate
      .putShort((channels * 2).toShort)          // block align
      .putShort(16.toShort)                      // bits per sample
    buf.put("LIST".getBytes("US-ASCII")).putInt(listBody.length).put(listBody)
    buf.put("data".getBytes("US-ASCII")).putInt(dataSize)
    var k = 0
    while (k < nSamples) {
      buf.putShort((((tb(k % len) & 0xff) - 128) * 256).toShort)
      k += 1
    }
    buf.array()
  }

  /** REAL pure-JVM WAV decoder: validates the RIFF/WAVE container,
    * walks the chunk list (skipping unknown chunks, honoring the
    * odd-size pad byte), parses `fmt ` (PCM, 16-bit only, block-align
    * consistency), then walks every little-endian int16 sample in
    * `data` for sum/min/max/first/last and an exact integer energy
    * (Σ s²). Malformed payloads fail loudly. */
  def decodeWav(payload: Array[Byte]): (Int, Int, Int, Long, Int, Int, Int, Int, Long) = {
    val buf = java.nio.ByteBuffer.wrap(payload)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    def fourCC(): String = {
      val b = new Array[Byte](4); buf.get(b); new String(b, "US-ASCII")
    }
    require(payload.length >= 12 && fourCC() == "RIFF", "wav: bad RIFF magic")
    val riffSize = buf.getInt
    require(riffSize == payload.length - 8, "wav: RIFF size mismatch")
    require(fourCC() == "WAVE", "wav: not a WAVE container")
    var channels = -1; var sampleRate = -1
    var nSamples = -1
    var sum = 0L; var energy = 0L
    var mn = Int.MaxValue; var mx = Int.MinValue
    var first = 0; var last = 0
    while (buf.remaining() >= 8) {
      val id = fourCC(); val size = buf.getInt
      require(size >= 0 && buf.remaining() >= size, s"wav: truncated chunk $id")
      id match {
        case "fmt " =>
          require(size == 16, "wav: non-PCM fmt chunk size")
          require(buf.getShort == 1, "wav: not PCM")
          channels = buf.getShort
          sampleRate = buf.getInt
          buf.getInt // byte rate (derived)
          val blockAlign = buf.getShort
          require(buf.getShort == 16, "wav: not 16-bit")
          require(blockAlign == channels * 2, "wav: block-align mismatch")
        case "data" =>
          require(channels > 0, "wav: data chunk before fmt")
          require(size % 2 == 0, "wav: odd PCM16 data size")
          // fail loudly on a second data chunk: silently continuing
          // would accumulate sums across chunks while nSamples kept
          // only the last chunk's count — garbage per-sample stats
          require(nSamples == -1, "wav: multiple data chunks")
          nSamples = size / 2
          require(nSamples > 0, "wav: empty data chunk")
          var k = 0
          while (k < nSamples) {
            val s: Int = buf.getShort
            if (k == 0) first = s
            last = s
            sum += s
            energy += s.toLong * s
            if (s < mn) mn = s
            if (s > mx) mx = s
            k += 1
          }
        case _ =>
          buf.position(buf.position() + size + (size & 1)) // skip + pad
      }
    }
    require(nSamples > 0, "wav: missing data chunk")
    (channels, sampleRate, nSamples, sum, mn, mx, first, last, energy)
  }

  /** Fixture: stage really-encoded WAV bytes per document (the binary
    * column an audio ingest lands). */
  def withWavColumn(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select(col("doc_id"), col("text"))
      .as[(Long, String)]
      .map { case (id, t) => (id, encodeWav(t)) }
      .toDF("doc_id", "media")
  }

  /** Batched REAL audio decode: mapPartitions through [[decodeWav]] —
    * the same narrow constant-memory iterator shape as
    * [[decodeNetpbmMeta]]. */
  def decodeWavMeta(docsWithMedia: DataFrame): Dataset[WavMeta] = {
    val spark = docsWithMedia.sparkSession
    import spark.implicits._
    docsWithMedia.select(col("doc_id"), col("media"))
      .filter(col("doc_id").isNotNull && col("media").isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, payload) =>
          val (c, sr, n, sum, mn, mx, first, last, energy) = decodeWav(payload)
          WavMeta(id, c, sr, n, sum, mn, mx, first, last, energy)
        }
      }
  }

  /** Batched decode: mapPartitions over (id, payload) rows emitting
    * typed metadata. Narrow (partition-preserving), constant-memory
    * iterator — no collect, no shuffle. */
  def decodeMeta(docsWithMedia: DataFrame): Dataset[MediaMeta] = {
    val spark = docsWithMedia.sparkSession
    import spark.implicits._
    docsWithMedia.select(col("doc_id"), col("media"))
      // undecodable rows (null id/payload) are skipped, not fatal —
      // one bad record must not kill a 100 TB decode job
      .filter(col("doc_id").isNotNull && col("media").isNotNull)
      .as[(Long, Array[Byte])]
      .mapPartitions { batch =>
        batch.map { case (id, payload) =>
          val (w, h, f, fmt) = decodeStub(payload)
          MediaMeta(id, w, h, f, fmt)
        }
      }
  }
}
