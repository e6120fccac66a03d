package graft.operators

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.encoders.RowEncoder
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.engine.{BmpCodec, Tables, WavCodec}

/** Multimodal-column plumbing (north-star surface): media assets as
  * opaque `binary` payloads + typed metadata, with decode /
  * feature-extract / frame-sample as partition-wise batch transforms.
  *
  * The image keys run a REAL codec: [[graft.engine.BmpCodec]] — a
  * pure-JVM 24-bit BMP encoder/decoder (header parse, bottom-up row
  * flip, 4-byte row padding). Fixture images are synthesized
  * deterministically from doc_id — dims from doc_id arithmetic,
  * pixels from an md5-derived 31-bit seed (the same hash
  * construction the KMV oracle uses, so DuckDB reproduces every
  * pixel value in closed form) — then ENCODED TO REAL BMP BYTES,
  * and every downstream stat is computed by genuinely parsing those
  * bytes back. A decoder bug (missed padding, BGR order, forgotten
  * bottom-up flip) breaks the oracle match: the flip in particular
  * is pinned by a row-0-only checksum no flipped decode can fake.
  *
  * Scale notes (100 TB): payloads never enter a shuffle — decode is
  * map-side (mapPartitions), per-image stats and metadata are the
  * only columns that move. Real pipelines would store payloads in
  * parquet binary columns with a small row-group size (or object-
  * store pointers) and let column pruning keep metadata-only queries
  * from touching bytes at all; the iterator-of-rows transform here is
  * exactly the mapInPandas batch contract, so a vectorized decoder
  * (JNI/arrow) swaps in without plan changes.
  */
object MultimodalOps {

  private val FRAME_BYTES = 64

  /** 31-bit md5-derived pixel seed — Spark expression twin of the
    * oracle's `CAST('0x' || substring(md5(...), 1, 15) AS BIGINT)`. */
  private val SEED_EXPR =
    s"CAST(conv(substring(md5(CAST(doc_id AS STRING)), 1, 15), 16, 10) AS BIGINT) % ${Int.MaxValue.toLong}"

  /** Image dims from doc_id: width 16..76, height 16..60 (step 4). */
  private[graft] def imgWidth(d: Long): Int = (16 + (d % 16) * 4).toInt
  private[graft] def imgHeight(d: Long): Int = (16 + (d % 12) * 4).toInt

  /** Deterministic BGR pixels (top-down, row-major): three integer
    * channel formulas over (x, y, seed) that DuckDB evaluates
    * verbatim. R's x·y term gives 2-D structure (an x/y swap or row
    * flip changes it). */
  private[graft] def synthPixels(seed: Long, w: Int, h: Int): Array[Byte] = {
    val px = new Array[Byte](3 * w * h)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val i = (y * w + x) * 3
        px(i) = ((x + y + seed) % 256).toByte
        px(i + 1) = ((2L * x + 3L * y + 5L * seed) % 256).toByte
        px(i + 2) = ((x.toLong * y + seed) % 256).toByte
        x += 1
      }
      y += 1
    }
    px
  }

  private val imageSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("payload", BinaryType)))

  /** Image asset table: one real 24-bit BMP per document row,
    * synthesized map-side (no shuffle) from doc_id. The payload is a
    * genuine BMP file — `decode(encode(...))` round-trips and any
    * header-respecting external tool would open it. */
  def images(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val enc = RowEncoder.encoderFor(imageSchema)
    Tables.documents(spark, sfDir)
      .select($"doc_id", expr(SEED_EXPR).as("seed"))
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          val w = imgWidth(d)
          val h = imgHeight(d)
          Row(d, BmpCodec.encode(w, h, synthPixels(r.getLong(1), w, h)))
        }
      }(enc)
  }

  /** Shared DuckDB CTE: closed-form dims + pixel seed per doc —
    * the oracle twin of [[images]]' generation parameters. */
  private val oracleDims =
    s"""dims AS (
       |  SELECT doc_id,
       |    CAST(16 + (doc_id % 16) * 4 AS INTEGER) AS width,
       |    CAST(16 + (doc_id % 12) * 4 AS INTEGER) AS height,
       |    CAST('0x' || substring(md5(CAST(doc_id AS VARCHAR)), 1, 15)
       |      AS BIGINT) % ${Int.MaxValue.toLong} AS seed
       |  FROM documents)""".stripMargin

  /** Shared DuckDB CTE (requires dims): one row per pixel with the
    * three closed-form channel values. */
  private val oraclePixels =
    """px AS (
      |  SELECT doc_id, width, height, seed,
      |    CAST(i.range % width AS BIGINT) AS x,
      |    CAST(i.range // width AS BIGINT) AS y
      |  FROM dims, range(0, 4560) i
      |  WHERE i.range < width * height),
      |chan AS (
      |  SELECT doc_id, width, height, x, y,
      |    (x + y + seed) % 256 AS b,
      |    (2 * x + 3 * y + 5 * seed) % 256 AS g,
      |    (x * y + seed) % 256 AS r
      |  FROM px)""".stripMargin

  /** Synthesized asset table: UTF-8 payload bytes standing in for
    * media, deterministic typed metadata derived from doc_id. */
  def assets(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    Tables.documents(spark, sfDir).select(
      $"doc_id",
      encode($"text", "UTF-8").as("payload"),
      struct(
        expr("CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'png' WHEN 1 THEN 'jpg' ELSE 'webp' END").as("fmt"),
        (lit(16) + pmod($"doc_id", lit(32)) * 4).cast(IntegerType).as("width"),
        (lit(16) + pmod($"doc_id", lit(24)) * 4).cast(IntegerType).as("height")
      ).as("meta"))
  }

  private val decodedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("fmt", StringType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("n_bytes", IntegerType),
    StructField("n_pixels", LongType),
    StructField("sum_b", LongType),
    StructField("sum_g", LongType),
    StructField("sum_r", LongType),
    StructField("row0_sum_b", LongType)))

  /** Partition-wise batch decode (the mapInPandas analog): iterate
    * the partition's rows once, REALLY parse each BMP payload
    * ([[BmpCodec.decode]]: magic/bpp validation, data-offset honor,
    * bottom-up flip, row padding), and emit per-image pixel stats.
    * `row0_sum_b` sums the B channel of the TOP row only — the file
    * stores that row last (bottom-up), so a decoder that skipped the
    * flip reports row h−1's sum and the oracle match breaks. No
    * shuffle; payloads die map-side. */
  def decoded(spark: SparkSession, sfDir: String): DataFrame = {
    val enc = RowEncoder.encoderFor(decodedSchema)
    images(spark, sfDir)
      .mapPartitions { rows =>
        rows.map { r =>
          val payload = r.getAs[Array[Byte]](1)
          val fmt =
            if (payload.length >= 2 && payload(0) == 'B'.toByte &&
              payload(1) == 'M'.toByte) "bmp" else "unknown"
          val img = BmpCodec.decode(payload)
          var sb = 0L; var sg = 0L; var sr = 0L; var row0 = 0L
          var i = 0
          val n = img.width * img.height
          while (i < n) {
            val o = i * 3
            sb += img.pixels(o) & 0xffL
            sg += img.pixels(o + 1) & 0xffL
            sr += img.pixels(o + 2) & 0xffL
            if (i < img.width) row0 += img.pixels(o) & 0xffL
            i += 1
          }
          Row(r.getLong(0), fmt, img.width, img.height,
            payload.length, n.toLong, sb, sg, sr, row0)
        }
      }(enc)
  }

  /** Harness-facing decode query: real pixel statistics from really
    * parsed BMP bytes, checked against the oracle's closed-form sums
    * over the generation formulas — encode and decode must BOTH be
    * byte-correct (dims from the header, padding skipped, rows
    * unflipped) for every column to match. */
  def multimodalDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    decoded(spark, sfDir)
      .orderBy($"doc_id")
  }

  val multimodalDecodeSql: String =
    s"""WITH $oracleDims,
       |$oraclePixels
       |SELECT doc_id, 'bmp' AS fmt, width, height,
       |  CAST(54 + ((3 * width + 3) // 4 * 4) * height AS INTEGER)
       |    AS n_bytes,
       |  CAST(width AS BIGINT) * height AS n_pixels,
       |  CAST(SUM(b) AS BIGINT) AS sum_b,
       |  CAST(SUM(g) AS BIGINT) AS sum_g,
       |  CAST(SUM(r) AS BIGINT) AS sum_r,
       |  CAST(SUM(CASE WHEN y = 0 THEN b ELSE 0 END) AS BIGINT)
       |    AS row0_sum_b
       |FROM chan GROUP BY doc_id, width, height
       |ORDER BY doc_id""".stripMargin

  private val resizedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("width", IntegerType),
    StructField("height", IntegerType),
    StructField("out_w", IntegerType),
    StructField("out_h", IntegerType),
    StructField("out_bytes", IntegerType),
    StructField("out_sum_b", LongType)))

  /** Real resize: decode each BMP, plan the aspect-preserving fit
    * into a 64×64 box (integer arithmetic), then RUN the
    * nearest-neighbor kernel ([[BmpCodec.resizeNearest]]) and report
    * the resized image's B-channel sum. The oracle brute-forces the
    * same NN sampling (src index = out·src ÷ out-dim, floored) over
    * the closed-form pixels, so a kernel that samples the wrong
    * source pixel — or a decode that fed it a shifted raster —
    * mismatches. Map-side only; the resized raster dies in the
    * kernel, stats move. Images already inside the box pass through
    * (out = in, kernel is identity there by construction). */
  def multimodalResize(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val box = 64
    val enc = RowEncoder.encoderFor(resizedSchema)
    images(spark, sfDir)
      .mapPartitions { rows =>
        rows.map { r =>
          val img = BmpCodec.decode(r.getAs[Array[Byte]](1))
          val long = math.max(img.width, img.height)
          val (ow, oh) =
            if (long <= box) (img.width, img.height)
            else (img.width * box / long, img.height * box / long)
          val out = BmpCodec.resizeNearest(img, ow, oh)
          var sb = 0L
          var i = 0
          while (i < ow * oh) { sb += out.pixels(i * 3) & 0xffL; i += 1 }
          Row(r.getLong(0), img.width, img.height, ow, oh,
            3 * ow * oh, sb)
        }
      }(enc)
      .orderBy($"doc_id")
  }

  val multimodalResizeSql: String =
    s"""WITH $oracleDims,
      |sized AS (
      |  SELECT doc_id, width, height, seed,
      |    CAST(CASE WHEN greatest(width, height) <= 64 THEN width
      |      ELSE (width * 64) // greatest(width, height) END AS INTEGER)
      |      AS out_w,
      |    CAST(CASE WHEN greatest(width, height) <= 64 THEN height
      |      ELSE (height * 64) // greatest(width, height) END AS INTEGER)
      |      AS out_h
      |  FROM dims),
      |samples AS (
      |  SELECT doc_id, width, height, out_w, out_h,
      |    ((i.range % out_w) * width // out_w
      |      + (i.range // out_w) * height // out_h + seed) % 256 AS b
      |  FROM sized, range(0, 4096) i
      |  WHERE i.range < out_w * out_h)
      |SELECT doc_id, width, height, out_w, out_h,
      |  CAST(out_w * out_h * 3 AS INTEGER) AS out_bytes,
      |  CAST(SUM(b) AS BIGINT) AS out_sum_b
      |FROM samples
      |GROUP BY doc_id, width, height, out_w, out_h
      |ORDER BY doc_id""".stripMargin

  /** Frame sampling: one row per FRAME_BYTES-sized slice of the real
    * BMP payload (video frame-sample analog) — generated map-side
    * from the payload length, no shuffle. The oracle computes the
    * encoded file size in closed form (54-byte header + padded
    * rows), so the encoder's size arithmetic is what's checked. */
  def multimodalFrames(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    images(spark, sfDir)
      .select($"doc_id", length($"payload").as("n_bytes"))
      .select($"doc_id", $"n_bytes",
        explode(sequence(lit(0),
          expr(s"((n_bytes + ${FRAME_BYTES - 1}) div $FRAME_BYTES) - 1"))).as("frame_idx"))
      .select($"doc_id", $"frame_idx",
        ($"frame_idx" * FRAME_BYTES).as("frame_offset"),
        least(lit(FRAME_BYTES), $"n_bytes" - $"frame_idx" * FRAME_BYTES).as("frame_len"))
      .orderBy($"doc_id", $"frame_idx")
  }

  val multimodalFramesSql: String =
    s"""WITH $oracleDims,
       |sized AS (
       |  SELECT doc_id,
       |    54 + ((3 * width + 3) // 4 * 4) * height AS n_bytes
       |  FROM dims)
       |SELECT doc_id, CAST(i.range AS INTEGER) AS frame_idx,
       |  CAST(i.range AS INTEGER) * $FRAME_BYTES AS frame_offset,
       |  least($FRAME_BYTES,
       |    CAST(n_bytes AS INTEGER)
       |      - CAST(i.range AS INTEGER) * $FRAME_BYTES) AS frame_len
       |FROM sized, range(0, 1000) i
       |WHERE i.range < (n_bytes + $FRAME_BYTES - 1) // $FRAME_BYTES
       |ORDER BY doc_id, frame_idx""".stripMargin

  private val imagePhashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("b0", LongType),
    StructField("b1", LongType),
    StructField("b2", LongType),
    StructField("b3", LongType),
    StructField("n_set", IntegerType)))

  /** True 2-D block-mean perceptual hash over DECODED pixels: the
    * image splits into an 8×8 spatial grid (pixel (x,y) belongs to
    * block (8x÷w, 8y÷h) — the inverse map, so kernel and oracle
    * share one per-pixel formula and no span-boundary convention),
    * bit_(8·by+bx) = 1 iff the block's mean luminance exceeds the
    * image mean, compared by integer cross-multiplication
    * (blockSum·nTotal > totalSum·nBlock — no float boundary). Luma
    * is the integer B+G+R sum (scale cancels in the comparison).
    * Unlike [[multimodalPhash]]'s 1-D byte-stream signature, this is
    * the raster construction: a row flip, x/y swap, or padding leak
    * in decode moves bits. Emits the 4×16-bit band signature per
    * image (the band layout [[DedupOps]]-style pigeonhole joins
    * consume; MultimodalSpec proves hamming-robustness to pixel
    * perturbation on crafted near-dups). Kernel is map-side; only
    * (doc_id, 4 longs) would ever shuffle at 100 TB. */
  private[graft] def imagePhashKernel(img: BmpCodec.Bmp): Array[Long] = {
    val bSum = new Array[Long](64)
    val bN = new Array[Long](64)
    var total = 0L
    var y = 0
    while (y < img.height) {
      val by = 8 * y / img.height
      var x = 0
      while (x < img.width) {
        val bx = 8 * x / img.width
        val o = (y * img.width + x) * 3
        val luma = (img.pixels(o) & 0xffL) + (img.pixels(o + 1) & 0xffL) +
          (img.pixels(o + 2) & 0xffL)
        val blk = by * 8 + bx
        bSum(blk) += luma
        bN(blk) += 1
        total += luma
        x += 1
      }
      y += 1
    }
    val n = img.width.toLong * img.height
    val bv = new Array[Long](4)
    var i = 0
    while (i < 64) {
      if (bSum(i) * n > total * bN(i)) bv(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bv
  }

  def imagePhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val enc = RowEncoder.encoderFor(imagePhashSchema)
    images(spark, sfDir)
      .mapPartitions { rows =>
        rows.map { r =>
          val bv = imagePhashKernel(
            BmpCodec.decode(r.getAs[Array[Byte]](1)))
          Row(r.getLong(0), bv(0), bv(1), bv(2), bv(3),
            java.lang.Long.bitCount(bv(0)) + java.lang.Long.bitCount(bv(1)) +
              java.lang.Long.bitCount(bv(2)) + java.lang.Long.bitCount(bv(3)))
        }
      }(enc)
      .orderBy($"doc_id")
  }

  val imagePhashSql: String =
    s"""WITH $oracleDims,
       |$oraclePixels,
       |pxb AS (
       |  SELECT doc_id,
       |    (8 * y // height) * 8 + (8 * x // width) AS blk,
       |    b + g + r AS luma
       |  FROM chan),
       |blks AS (
       |  SELECT doc_id, blk, CAST(SUM(luma) AS BIGINT) AS bsum,
       |    COUNT(*) AS bn
       |  FROM pxb GROUP BY 1, 2),
       |tot AS (
       |  SELECT doc_id, CAST(SUM(bsum) AS BIGINT) AS tsum,
       |    CAST(SUM(bn) AS BIGINT) AS tn
       |  FROM blks GROUP BY 1),
       |bits AS (
       |  SELECT b.doc_id, b.blk,
       |    CASE WHEN b.bsum * t.tn > t.tsum * b.bn THEN 1 ELSE 0 END AS bit
       |  FROM blks b JOIN tot t USING (doc_id))
       |SELECT doc_id,
       |  CAST(COALESCE(SUM(CASE WHEN blk // 16 = 0
       |    THEN bit * (1::BIGINT << CAST(blk % 16 AS INTEGER)) END), 0)
       |    AS BIGINT) AS b0,
       |  CAST(COALESCE(SUM(CASE WHEN blk // 16 = 1
       |    THEN bit * (1::BIGINT << CAST(blk % 16 AS INTEGER)) END), 0)
       |    AS BIGINT) AS b1,
       |  CAST(COALESCE(SUM(CASE WHEN blk // 16 = 2
       |    THEN bit * (1::BIGINT << CAST(blk % 16 AS INTEGER)) END), 0)
       |    AS BIGINT) AS b2,
       |  CAST(COALESCE(SUM(CASE WHEN blk // 16 = 3
       |    THEN bit * (1::BIGINT << CAST(blk % 16 AS INTEGER)) END), 0)
       |    AS BIGINT) AS b3,
       |  CAST(SUM(bit) AS INTEGER) AS n_set
       |FROM bits GROUP BY doc_id
       |ORDER BY doc_id""".stripMargin

  // ───────────────────────── audio (WAV PCM) ─────────────────────────

  /** Audio dims from doc_id: 800..1584 frames, mono/stereo, 8 kHz. */
  private[graft] def audFrames(d: Long): Int = (800 + (d % 50) * 16).toInt
  private[graft] def audChannels(d: Long): Int = (1 + d % 2).toInt
  private val AUD_RATE = 8000

  /** Deterministic PCM16 samples: frame f, channel c ↦
    * ((f·(c+2) + seed) mod 4001) − 2000 — integer, ±2000, and
    * evaluated verbatim by DuckDB. */
  private[graft] def synthSamples(seed: Long, frames: Int,
      channels: Int): Array[Short] = {
    val out = new Array[Short](frames * channels)
    var f = 0
    while (f < frames) {
      var c = 0
      while (c < channels) {
        out(f * channels + c) =
          (((f.toLong * (c + 2) + seed) % 4001) - 2000).toShort
        c += 1
      }
      f += 1
    }
    out
  }

  /** Audio asset table: one real 16-bit PCM WAV per document row —
    * the [[images]] pattern for the audio modality ([[WavCodec]]
    * writes a genuine RIFF/WAVE file). */
  def audio(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val enc = RowEncoder.encoderFor(imageSchema) // (doc_id, payload)
    Tables.documents(spark, sfDir)
      .select($"doc_id", expr(SEED_EXPR).as("seed"))
      .mapPartitions { rows =>
        rows.map { r =>
          val d = r.getLong(0)
          Row(d, WavCodec.encode(AUD_RATE, audChannels(d),
            synthSamples(r.getLong(1), audFrames(d), audChannels(d))))
        }
      }(enc)
  }

  private val audioDecodedSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("sample_rate", IntegerType),
    StructField("channels", IntegerType),
    StructField("n_frames", LongType),
    StructField("n_bytes", IntegerType),
    StructField("sum_ch0", LongType),
    StructField("sum_abs_ch0", LongType),
    StructField("n_zero_cross_ch0", LongType),
    StructField("first_sample", IntegerType)))

  /** Real WAV parse + per-clip signal stats: channel-0 sum, absolute
    * sum (energy proxy), zero-crossing count (the classic
    * voiced/unvoiced feature), and the clip's first sample (an
    * interleave/offset detector — a parser that misreads the chunk
    * walk or channel stride reports a different short). The oracle
    * recomputes all of it from the closed-form sample formula, so
    * the encoder's RIFF layout and the decoder's chunk walk are both
    * byte-checked. Map-side; payloads never shuffle. */
  def audioDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val enc = RowEncoder.encoderFor(audioDecodedSchema)
    audio(spark, sfDir)
      .mapPartitions { rows =>
        rows.map { r =>
          val wav = WavCodec.decode(r.getAs[Array[Byte]](1))
          val frames = wav.samples.length / wav.channels
          var sum = 0L; var sabs = 0L; var zc = 0L
          var prevNeg = false
          var f = 0
          while (f < frames) {
            val s = wav.samples(f * wav.channels).toLong
            sum += s
            sabs += math.abs(s)
            val neg = s < 0
            if (f > 0 && neg != prevNeg) zc += 1
            prevNeg = neg
            f += 1
          }
          Row(r.getLong(0), wav.sampleRate, wav.channels, frames.toLong,
            WavCodec.fileSize(wav.samples.length), sum, sabs, zc,
            wav.samples(0).toInt)
        }
      }(enc)
      .orderBy($"doc_id")
  }

  val audioDecodeSql: String =
    s"""WITH $oracleDims,
       |aud AS (
       |  SELECT doc_id, seed,
       |    CAST(800 + (doc_id % 50) * 16 AS BIGINT) AS n_frames,
       |    CAST(1 + doc_id % 2 AS INTEGER) AS channels
       |  FROM dims),
       |smp AS (
       |  SELECT doc_id, n_frames, channels,
       |    CAST(i.range AS BIGINT) AS f,
       |    (i.range * 2 + seed) % 4001 - 2000 AS s0
       |  FROM aud, range(0, 1584) i WHERE i.range < n_frames),
       |lagged AS (
       |  SELECT doc_id, f, s0,
       |    lag(s0) OVER (PARTITION BY doc_id ORDER BY f) AS prev
       |  FROM smp),
       |zc AS (
       |  SELECT doc_id,
       |    CAST(SUM(CASE WHEN f > 0 AND (s0 < 0) <> (prev < 0)
       |      THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_cross_ch0,
       |    CAST(SUM(s0) AS BIGINT) AS sum_ch0,
       |    CAST(SUM(abs(s0)) AS BIGINT) AS sum_abs_ch0
       |  FROM lagged GROUP BY doc_id)
       |SELECT a.doc_id, CAST($AUD_RATE AS INTEGER) AS sample_rate, a.channels,
       |  a.n_frames,
       |  CAST(44 + 2 * a.n_frames * a.channels AS INTEGER) AS n_bytes,
       |  z.sum_ch0, z.sum_abs_ch0, z.n_zero_cross_ch0,
       |  CAST(seed % 4001 - 2000 AS INTEGER) AS first_sample
       |FROM aud a JOIN zc z ON a.doc_id = z.doc_id
       |ORDER BY a.doc_id""".stripMargin

  private val audioResampleSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("in_frames", LongType),
    StructField("out_frames", LongType),
    StructField("out_rate", IntegerType),
    StructField("out_sum_ch0", LongType)))

  /** Decimation resample (keep every 3rd frame) RUN FOR REAL on the
    * decoded samples; the oracle sums the closed-form samples at the
    * kept frame indices, so wrong stride / off-by-one frame selection
    * mismatches. */
  def audioResample(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val enc = RowEncoder.encoderFor(audioResampleSchema)
    audio(spark, sfDir)
      .mapPartitions { rows =>
        rows.map { r =>
          val wav = WavCodec.decode(r.getAs[Array[Byte]](1))
          val inFrames = wav.samples.length / wav.channels
          val out = WavCodec.decimate(wav, 3)
          val outFrames = out.samples.length / out.channels
          var sum = 0L
          var f = 0
          while (f < outFrames) {
            sum += out.samples(f * out.channels).toLong
            f += 1
          }
          Row(r.getLong(0), inFrames.toLong, outFrames.toLong,
            out.sampleRate, sum)
        }
      }(enc)
      .orderBy($"doc_id")
  }

  val audioResampleSql: String =
    s"""WITH $oracleDims,
       |aud AS (
       |  SELECT doc_id, seed,
       |    CAST(800 + (doc_id % 50) * 16 AS BIGINT) AS n_frames
       |  FROM dims),
       |kept AS (
       |  SELECT doc_id, n_frames,
       |    (i.range * 3 * 2 + seed) % 4001 - 2000 AS s0
       |  FROM aud, range(0, 528) i
       |  WHERE i.range * 3 < n_frames)
       |SELECT doc_id, n_frames AS in_frames,
       |  CAST((n_frames + 2) // 3 AS BIGINT) AS out_frames,
       |  CAST(${AUD_RATE / 3} AS INTEGER) AS out_rate,
       |  CAST(SUM(s0) AS BIGINT) AS out_sum_ch0
       |FROM kept GROUP BY doc_id, n_frames
       |ORDER BY doc_id""".stripMargin

  /** Training-manifest assembly — the step that turns per-modality
    * tables into one example row per document for a multimodal
    * training run: text metadata ⋈ decoded image stats ⋈ decoded
    * audio stats ⋈ embedding geometry, with the per-example byte
    * budget a data loader schedules by. All three payload-derived
    * sides come from the REAL codecs (the stats are what decode
    * produced, not metadata claims), and the embedding norm follows
    * the SimOps float discipline (double-fold + rnd6). Joins are all
    * equi-joins on doc_id — at 100 TB each side is a skinny stats
    * table (payloads long dead map-side), so the manifest build is
    * three cheap shuffles over stats, never media bytes. */
  def multimodalManifest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.Udfs.rnd6
    val docs = Tables.documents(spark, sfDir)
      .select($"doc_id", $"lang",
        length(encode($"text", "UTF-8")).cast("long").as("text_bytes"))
    val img = decoded(spark, sfDir)
      .select($"doc_id", $"width", $"height",
        $"n_bytes".cast("long").as("img_bytes"))
    val aud = audioDecode(spark, sfDir)
      .select($"doc_id", $"n_frames", $"channels",
        $"n_bytes".cast("long").as("aud_bytes"))
    val emb = Tables.embeddings(spark, sfDir)
      .select($"vec_id".as("doc_id"),
        size($"embedding").as("emb_dim"),
        rnd6(sqrt(expr(
          "aggregate(transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)), 0D, (a, x) -> a + x)")))
          .as("emb_norm"))
    docs.join(img, "doc_id").join(aud, "doc_id").join(emb, "doc_id")
      .withColumn("total_bytes",
        $"text_bytes" + $"img_bytes" + $"aud_bytes" + $"emb_dim" * 4L)
      .orderBy($"doc_id")
  }

  val multimodalManifestSql: String = {
    import graft.functions.Udfs.sqlRnd6
    s"""WITH $oracleDims,
       |img AS (
       |  SELECT doc_id, width, height,
       |    CAST(54 + ((3 * width + 3) // 4 * 4) * height AS BIGINT)
       |      AS img_bytes
       |  FROM dims),
       |aud AS (
       |  SELECT doc_id,
       |    CAST(800 + (doc_id % 50) * 16 AS BIGINT) AS n_frames,
       |    CAST(1 + doc_id % 2 AS INTEGER) AS channels
       |  FROM dims),
       |emb AS (
       |  SELECT vec_id AS doc_id,
       |    CAST(len(embedding) AS INTEGER) AS emb_dim,
       |    ${sqlRnd6("sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))")}
       |      AS emb_norm
       |  FROM embeddings)
       |SELECT d.doc_id, d.lang,
       |  CAST(octet_length(encode(d.text)) AS BIGINT) AS text_bytes,
       |  i.width, i.height, i.img_bytes,
       |  a.n_frames, a.channels,
       |  CAST(44 + 2 * a.n_frames * a.channels AS BIGINT) AS aud_bytes,
       |  e.emb_dim, e.emb_norm,
       |  CAST(octet_length(encode(d.text)) + i.img_bytes
       |    + 44 + 2 * a.n_frames * a.channels
       |    + e.emb_dim * 4 AS BIGINT) AS total_bytes
       |FROM documents d
       |JOIN img i ON d.doc_id = i.doc_id
       |JOIN aud a ON d.doc_id = a.doc_id
       |JOIN emb e ON d.doc_id = e.doc_id
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Content-addressed asset dedup — the CAS-storage step of a
    * multimodal ingest: every payload keys on the md5 of its BYTES
    * (the 16-byte group key, never the payload, enters the shuffle —
    * the [[DedupOps.dedupExact]] 100 TB rule applied to media), one
    * min-id survivor per content key, with the byte-savings
    * accounting an asset store reports (dedup ratio is the metric
    * that decides whether CAS is worth running). Spark hashes the
    * binary column directly; the oracle hashes the text whose UTF-8
    * bytes ARE the payload, with octet_length (not character length)
    * for the byte math. */
  def multimodalDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    assets(spark, sfDir)
      .select($"doc_id", md5($"payload").as("content_key"),
        length($"payload").cast("long").as("n_bytes"))
      .groupBy($"content_key", $"n_bytes")
      .agg(min($"doc_id").as("survivor_id"), count(lit(1)).as("n_copies"))
      .select($"content_key", $"survivor_id", $"n_copies", $"n_bytes",
        (($"n_copies" - 1) * $"n_bytes").as("bytes_saved"))
      .orderBy($"survivor_id")
  }

  val multimodalDedupSql: String =
    """WITH keyed AS (
      |  SELECT doc_id, md5(text) AS content_key,
      |    CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes
      |  FROM documents)
      |SELECT content_key, min(doc_id) AS survivor_id,
      |  count(*) AS n_copies, n_bytes,
      |  CAST((count(*) - 1) * n_bytes AS BIGINT) AS bytes_saved
      |FROM keyed
      |GROUP BY content_key, n_bytes
      |ORDER BY survivor_id""".stripMargin

  /** Perceptual-hash near-dup over the asset payloads — the IMAGE
    * twin of [[graft.operators.DedupOps]]' SimHash pair search, and
    * the reason CAS dedup ([[multimodalDedup]]) is not enough: a
    * re-encoded/re-cropped asset changes every byte but barely moves
    * a perceptual signature. The pHash here is the block-mean
    * construction (real pHash DCT needs a decoded raster — the
    * stubbed-codec boundary): the payload byte stream splits into 64
    * equal spans, bit_b = 1 iff span b's byte-sum exceeds the
    * payload mean (scale-free, so assets of different length remain
    * comparable), packed into 4×16-bit bands. Near-pair search is
    * the same band-pigeonhole as SimHash: hamming ≤ 3 over 64 bits
    * guarantees ≥ 1 of the 4 bands identical, so the band equi-join
    * provably finds EVERY pair within the radius — never all-pairs.
    *
    * All arithmetic is integer (byte sums, `s·64 > total` instead of
    * dividing, shift-packed bands), so Spark and the oracle agree
    * bit-for-bit. Signature build is the partition-wise kernel
    * ([[phashKernel]], same mapPartitions contract as [[decoded]] —
    * no shuffle until the 4-row-per-doc band table); at 100 TB the
    * bands table (doc_id + 5 longs) is what shuffles, never payload
    * bytes. The oracle mirrors the kernel over text chars, which ARE
    * the payload bytes for this ASCII fixture ([[assets]] encodes
    * UTF-8). */
  private val phashSchema = StructType(Seq(
    StructField("doc_id", LongType),
    StructField("bv", ArrayType(LongType))))

  /** pHash kernel: payload bytes → 4×16-bit band values. Plain Scala
    * like [[decodeStub]] — per-asset imperative byte math is the
    * kernel contract of this family, and chaining the same logic
    * through nested SQL higher-order lambdas blows up the optimizer's
    * expression tree (each stage re-inlines the 64-term block array
    * into the next). */
  private[graft] def phashKernel(payload: Array[Byte]): Array[Long] = {
    val n = payload.length
    val blocks = new Array[Long](64)
    var total = 0L
    var b = 0
    while (b < 64) {
      var p = b * n / 64 // exclusive-lo/inclusive-hi span in 0-based form
      val hi = (b + 1) * n / 64
      while (p < hi) { blocks(b) += payload(p) & 0xffL; p += 1 }
      total += blocks(b)
      b += 1
    }
    val bv = new Array[Long](4)
    var i = 0
    while (i < 64) {
      if (blocks(i) * 64 > total) bv(i / 16) |= 1L << (i % 16)
      i += 1
    }
    bv
  }

  def multimodalPhash(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val enc = RowEncoder.encoderFor(phashSchema)
    val bands = assets(spark, sfDir)
      .select($"doc_id", $"payload")
      .mapPartitions { rows =>
        rows.map { r =>
          Row(r.getAs[Long]("doc_id"),
            phashKernel(r.getAs[Array[Byte]]("payload")).toSeq)
        }
      }(enc)
      .select($"doc_id", posexplode($"bv").as(Seq("band", "bval")),
        expr("element_at(bv, 1)").as("b0"), expr("element_at(bv, 2)").as("b1"),
        expr("element_at(bv, 3)").as("b2"), expr("element_at(bv, 4)").as("b3"))
    bands.as("x").join(bands.as("y"),
        $"x.band" === $"y.band" && $"x.bval" === $"y.bval" &&
          $"x.doc_id" < $"y.doc_id")
      .select($"x.doc_id".as("doc_a"), $"y.doc_id".as("doc_b"),
        (expr("bit_count(x.b0 ^ y.b0) + bit_count(x.b1 ^ y.b1)") +
          expr("bit_count(x.b2 ^ y.b2) + bit_count(x.b3 ^ y.b3)"))
          .cast("int").as("hamming"))
      .distinct()
      .filter($"hamming" <= 3)
      .orderBy($"doc_a", $"doc_b")
  }

  val multimodalPhashSql: String =
    """WITH docs AS (
      |  SELECT doc_id, text, length(text) AS n FROM documents),
      |blk AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 64), b ->
      |      CASE WHEN (b + 1) * n // 64 >= b * n // 64 + 1
      |        THEN COALESCE(list_sum(list_transform(
      |          range(b * n // 64 + 1, (b + 1) * n // 64 + 1),
      |          p -> ord(substring(text, p, 1)))), 0)
      |        ELSE 0 END) AS blocks
      |  FROM docs),
      |sig AS (
      |  SELECT doc_id, blocks, list_sum(blocks) AS total,
      |    list_transform(range(0, 64), b ->
      |      CASE WHEN blocks[b + 1] * 64 > list_sum(blocks)
      |        THEN 1 ELSE 0 END) AS bits
      |  FROM blk),
      |bandv AS (
      |  SELECT doc_id,
      |    list_transform(range(0, 4), k ->
      |      list_sum(list_transform(range(0, 16),
      |        i -> bits[16 * k + i + 1] * (1::BIGINT << i)))) AS bv
      |  FROM sig),
      |bands AS (
      |  SELECT doc_id, k AS band, bv[k + 1] AS bval,
      |    bv[1] AS b0, bv[2] AS b1, bv[3] AS b2, bv[4] AS b3
      |  FROM bandv, unnest(range(0, 4)) AS t(k)),
      |cand AS (
      |  SELECT DISTINCT x.doc_id AS doc_a, y.doc_id AS doc_b,
      |    CAST(bit_count(xor(x.b0, y.b0)) + bit_count(xor(x.b1, y.b1))
      |      + bit_count(xor(x.b2, y.b2)) + bit_count(xor(x.b3, y.b3))
      |      AS INTEGER) AS hamming
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.bval = y.bval AND x.doc_id < y.doc_id)
      |SELECT doc_a, doc_b, hamming FROM cand
      |WHERE hamming <= 3 ORDER BY doc_a, doc_b""".stripMargin
}
