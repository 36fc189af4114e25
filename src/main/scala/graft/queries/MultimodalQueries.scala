package graft.queries

import org.apache.spark.sql.functions._
import graft.Tables
import graft.multimodal.Multimodal

/** Multimodal binary-column operators over the documents table (payload =
  * utf-8 bytes standing in for image/audio blobs; see
  * [[graft.multimodal.Multimodal]] — decode is a documented deterministic
  * stub, the binary plumbing is real). */
object MultimodalQueries {

  /** Shared synth-media scaffold: `n` deterministic ids from orders, a
    * generator-produced binary payload each, through the typed MediaRow
    * schema — the one place the media-row shape lives for q58/q58b/q58c. */
  private def synthMedia(s: org.apache.spark.sql.SparkSession, d: String, n: Int,
                         gen: Long => Array[Byte])
      : org.apache.spark.sql.Dataset[Multimodal.MediaRow] = {
    import s.implicits._
    val synth = udf { (id: Long) => gen(id) }
    Tables.orders(s, d)
      .select((col("o_orderkey") % n).cast("long").as("media_id")).distinct()
      .select(col("media_id"), lit("synth").as("kind"),
        synth(col("media_id")).as("payload"),
        lit(0).as("width"), lit(0).as("height"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))
      .as[Multimodal.MediaRow]
  }

  /** Binary payload metadata + stub-decoded dimensions, end-to-end through
    * the real mapPartitions extraction stage. */
  val q37MultimodalMeta = QueryDef(
    "q37_multimodal_meta",
    (s, d) => {
      import s.implicits._
      val media = Multimodal.attachPayload(Tables.documents(s, d), "text", "doc_id")
        .withColumn("kind", col("kind"))
        .select(col("media_id"), col("kind"), col("payload"),
          lit(0).as("width"), lit(0).as("height"), col("n_bytes"))
        .as[Multimodal.MediaRow]
      Multimodal.extractFeatures(media).toDF()
        .orderBy("media_id")
    },
    Some("""
      WITH m AS (
        SELECT doc_id AS media_id, md5(text) AS content_hash,
               ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
        FROM documents),
      dims AS (
        SELECT media_id, content_hash,
               ((h % 640) + 1)::INT AS width,
               (((h // 640) % 480) + 1)::INT AS height
        FROM m)
      SELECT media_id, content_hash, width, height,
             CASE WHEN width >= height THEN 'landscape' ELSE 'portrait' END AS aspect_bucket
      FROM dims
      ORDER BY media_id
    """))

  /** REAL payload decode end to end: byte-valid BMP (24-bit, padded
    * strides, top-down variants) and WAV (16-bit PCM, walked chunks)
    * files are generated in-plan from closed-form pixel/sample formulas
    * ([[graft.multimodal.MediaSynth]]), decoded by the real byte-math
    * decoders through the partition-batched extraction stage, and the
    * oracle recomputes every statistic from the GENERATING FORMULAS
    * alone — a decoder that misreads stride padding, sign-extension,
    * channel order (per-channel sums catch B↔R swaps), chunk offsets,
    * or top-down rows cannot match. */
  val q58MultimodalDecode = QueryDef(
    "q58_multimodal_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 500, graft.multimodal.MediaSynth.payload)).toDF().orderBy("media_id"),
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 500)::BIGINT AS media_id FROM orders),
      bmp AS (
        SELECT media_id, (4 + media_id % 5)::INT AS w, (3 + media_id % 4)::INT AS h
        FROM ids WHERE media_id % 2 = 0),
      bmp_px AS (
        SELECT b.media_id, b.w, b.h,
               (b.media_id*13 + 5*xs.x + ys.y) % 256 AS r,
               (b.media_id*11 + xs.x + 2*ys.y) % 256 AS g,
               (b.media_id*7 + 3*xs.x + 5*ys.y) % 256 AS bl
        FROM bmp b
        JOIN (SELECT unnest(range(0, 8)) AS x) xs ON xs.x < b.w
        JOIN (SELECT unnest(range(0, 7)) AS y) ys ON ys.y < b.h),
      bmp_stats AS (
        SELECT media_id, 'bmp' AS format, any_value(w) AS width,
               any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
               (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
               (sum(r) + sum(g) + sum(bl))::BIGINT AS sum_values,
               least(min(r), min(g), min(bl))::INT AS min_value,
               greatest(max(r), max(g), max(bl))::INT AS max_value,
               sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
               sum(bl)::BIGINT AS sum_b
        FROM bmp_px GROUP BY media_id),
      wav AS (
        SELECT media_id, (1 + media_id % 2)::INT AS ch,
               (8000 + media_id % 1000)::INT AS rate,
               ((50 + media_id % 60) * (1 + media_id % 2))::INT AS n
        FROM ids WHERE media_id % 2 = 1),
      wav_s AS (
        SELECT w.media_id, ((w.media_id*31 + j.j*17) % 65536) - 32768 AS s
        FROM wav w JOIN (SELECT unnest(range(0, 220)) AS j) j ON j.j < w.n),
      wav_stats AS (
        SELECT w.media_id, 'wav' AS format, 0 AS width, 0 AS height,
               any_value(w.ch) AS channels, any_value(w.rate) AS sample_rate,
               any_value(w.n)::BIGINT AS n_values, sum(s.s)::BIGINT AS sum_values,
               min(s.s)::INT AS min_value, max(s.s)::INT AS max_value,
               0::BIGINT AS sum_r, 0::BIGINT AS sum_g, 0::BIGINT AS sum_b
        FROM wav w JOIN wav_s s ON s.media_id = w.media_id GROUP BY w.media_id)
      SELECT * FROM bmp_stats UNION ALL SELECT * FROM wav_stats
      ORDER BY media_id
    """))

  /** PNG payload decode end to end, JDK-only: byte-valid PNGs (8-bit
    * RGB, zlib-deflated, each row filtered with type y%5 — so all five
    * PNG filters must reconstruct correctly) are generated in-plan from
    * the closed-form channel formulas, inflated + unfiltered by
    * [[graft.multimodal.HeaderCodec.decodePng]] through the same
    * partition-batched extraction stage as q58, and the oracle
    * recomputes every statistic from the generating formulas alone — a
    * wrong filter reconstruction, Paeth tie-break, or stride walk
    * changes some channel sum and breaks the hash. */
  val q58bPngDecode = QueryDef(
    "q58b_png_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.png)).toDF().orderBy("media_id"),
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      png AS (
        SELECT media_id, (4 + media_id % 6)::INT AS w, (5 + media_id % 5)::INT AS h
        FROM ids),
      px AS (
        SELECT p.media_id, p.w, p.h,
               (p.media_id*13 + 5*xs.x + ys.y) % 256 AS r,
               (p.media_id*11 + xs.x + 2*ys.y) % 256 AS g,
               (p.media_id*7 + 3*xs.x + 5*ys.y) % 256 AS bl
        FROM png p
        JOIN (SELECT unnest(range(0, 10)) AS x) xs ON xs.x < p.w
        JOIN (SELECT unnest(range(0, 10)) AS y) ys ON ys.y < p.h)
      SELECT media_id, 'png' AS format, any_value(w) AS width,
             any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
             (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
             (sum(r) + sum(g) + sum(bl))::BIGINT AS sum_values,
             least(min(r), min(g), min(bl))::INT AS min_value,
             greatest(max(r), max(g), max(bl))::INT AS max_value,
             sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
             sum(bl)::BIGINT AS sum_b
      FROM px GROUP BY media_id
      ORDER BY media_id
    """))

  /** GIF payload decode end to end, pure-JVM LZW: byte-valid GIF89a
    * files (256-entry global palette, real variable-width LZW whose code
    * width grows past 9 bits on most size classes) are generated in-plan from
    * closed-form palette/index formulas, decompressed + palette-mapped by
    * [[graft.multimodal.HeaderCodec.decodeGif]] through the same
    * partition-batched extraction stage, and the oracle recomputes every
    * statistic from the formulas alone — a wrong code-width bump, KwKwK
    * case, or palette walk changes some channel sum and breaks the hash.
    * (javax.imageio independently round-trips both the generator and the
    * decoder in HeaderCodecSpec.) */
  val q58cGifDecode = QueryDef(
    "q58c_gif_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.gif)).toDF().orderBy("media_id"),
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      gif AS (
        SELECT media_id, (14 + media_id % 10)::INT AS w, (12 + media_id % 8)::INT AS h
        FROM ids),
      px AS (
        SELECT g.media_id, g.w, g.h,
               (g.media_id*3 + 5*((g.media_id*5 + 7*xs.x + 11*ys.y) % 256)) % 256 AS r,
               (g.media_id*7 + 3*((g.media_id*5 + 7*xs.x + 11*ys.y) % 256)) % 256 AS gr,
               (g.media_id*11 + 9*((g.media_id*5 + 7*xs.x + 11*ys.y) % 256)) % 256 AS bl
        FROM gif g
        JOIN (SELECT unnest(range(0, 24)) AS x) xs ON xs.x < g.w
        JOIN (SELECT unnest(range(0, 20)) AS y) ys ON ys.y < g.h)
      SELECT media_id, 'gif' AS format, any_value(w) AS width,
             any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
             (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
             (sum(r) + sum(gr) + sum(bl))::BIGINT AS sum_values,
             least(min(r), min(gr), min(bl))::INT AS min_value,
             greatest(max(r), max(gr), max(bl))::INT AS max_value,
             sum(r)::BIGINT AS sum_r, sum(gr)::BIGINT AS sum_g,
             sum(bl)::BIGINT AS sum_b
      FROM px GROUP BY media_id
      ORDER BY media_id
    """))

  /** The constant-block oracle of the 8-bit JPEG decodes (q58d/e/g/k/l):
    * per-block gray level from [[graft.multimodal.MediaSynth.jpeg]]'s
    * formula, every statistic recomputed from it. */
  private lazy val jpegBlocksOracleSql: String = """
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id,
          (CASE media_id % 3
             WHEN 0 THEN 8 * (2 + media_id % 5)
             WHEN 1 THEN 8 * (2 + media_id % 4)
             ELSE 16 * (1 + media_id % 3) END)::INT AS w,
          (CASE media_id % 3
             WHEN 0 THEN 8 * (2 + media_id % 4)
             WHEN 1 THEN 8 * (2 + media_id % 3)
             ELSE 16 * (1 + media_id % 2) END)::INT AS h
        FROM ids),
      blocks AS (
        SELECT d.media_id, d.w, d.h,
               ((d.media_id*37 + 11*gx.x + 23*gy.y + 3*gx.x*gy.y) % 256) AS g
        FROM d,
             (SELECT unnest(range(0, 8)) AS x) gx,
             (SELECT unnest(range(0, 8)) AS y) gy
        WHERE gx.x < d.w // 8 AND gy.y < d.h // 8)
      SELECT media_id, 'jpeg' AS format, any_value(w) AS width,
             any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
             (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
             (3 * 64 * sum(g))::BIGINT AS sum_values,
             min(g)::INT AS min_value, max(g)::INT AS max_value,
             (64 * sum(g))::BIGINT AS sum_r, (64 * sum(g))::BIGINT AS sum_g,
             (64 * sum(g))::BIGINT AS sum_b
      FROM blocks GROUP BY media_id
      ORDER BY media_id
    """

  /** Baseline JPEG payload decode end to end, pure JVM: byte-valid ITU
    * T.81 baseline files — grayscale, 4:4:4 color, and 4:2:0 subsampled
    * color with DRI/RSTn restart markers — are generated in-plan from
    * constant-block formulas ([[graft.multimodal.MediaSynth.jpeg]]:
    * DC-only coefficients, all-ones quant table, neutral chroma), decoded
    * by the real Huffman + dequant + IDCT pipeline
    * ([[graft.multimodal.JpegCodec]]) through the same partition-batched
    * extraction stage, and the oracle recomputes every statistic from the
    * block formulas alone — a wrong Huffman canonical assignment, DC
    * prediction, restart reset, dequant, IDCT scaling, upsampling walk,
    * or YCbCr transform shifts some sum and breaks the hash.
    * (javax.imageio cross-validates both directions in JpegCodecSpec,
    * including AC-bearing files.) */
  val q58dJpegDecode = QueryDef(
    "q58d_jpeg_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.jpeg)).toDF().orderBy("media_id"),
    Some(jpegBlocksOracleSql))

  /** Arithmetic-coded (SOF9) JPEG payload decode end to end, pure JVM:
    * real T.81 Annex D/E QM-coder files — adaptive binary contexts over
    * the F.1.4.4 DC/AC decision trees, bit-stuffed 0xFF handling,
    * conditional exchange, a DAC conditioning segment on variant-1
    * files — decoded by [[graft.multimodal.QmCoder]] +
    * [[graft.multimodal.JpegCodec]] and checked against the same
    * closed-form constant-block oracle as q58d (the encoder is the
    * in-repo Annex D implementation; QmCoderSpec pins round-trip,
    * marker-cleanliness, conditioning effectiveness, and that the
    * arithmetic and Huffman codings of the same image decode to
    * identical rasters). */
  val q58gArithJpegDecode = QueryDef(
    "q58g_arith_jpeg_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.arithJpeg)).toDF().orderBy("media_id"),
    Some(jpegBlocksOracleSql))

  /** Arithmetic-coded sequential JPEG WITH restart markers (SOF9 +
    * DRI/RSTn, T.81 E.2.4) decode end to end: each DRI=2-MCU interval
    * is its own QM entropy segment — per-interval FLUSH, RSTn numbering
    * mod 8, statistics-bin and DC-prediction resets — decoded by the
    * per-interval re-INITDEC path in [[graft.multimodal.JpegCodec]] and
    * checked against the same closed-form constant-block oracle as
    * q58d/q58g (the pixel formula is framing-independent; a decoder
    * that misses a reset or mis-numbers a marker fails closed). */
  val q58lArithRstJpegDecode = QueryDef(
    "q58l_arith_rst_jpeg_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.arithRstJpeg)).toDF().orderBy("media_id"),
    Some(jpegBlocksOracleSql))

  /** Progressive ARITHMETIC-coded (SOF10) JPEG payload decode end to
    * end, pure JVM: real T.81 G.2 files — per-scan QM entropy segments
    * over the Annex F statistics (DC first on point-transformed values,
    * fixed-state DC refinement decisions, band-limited AC first, G.2.3
    * AC refinement), a DAC conditioning segment on variant-1 files —
    * decoded by the [[graft.multimodal.QmCoder]] scan models wired into
    * [[graft.multimodal.JpegCodec]]'s progressive coefficient store,
    * and checked against the same closed-form constant-block oracle as
    * q58d/q58e/q58g (the encoder is the in-repo G.2 implementation;
    * QmCoderSpec pins the nonzero-AC refinement legs and JpegCodecSpec
    * pins SOF2/SOF10 raster identity). */
  val q58kProgArithJpegDecode = QueryDef(
    "q58k_prog_arith_jpeg_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.progArithJpeg)).toDF().orderBy("media_id"),
    Some(jpegBlocksOracleSql))

  /** Lossless (SOF3, process 14) JPEG payload decode end to end, pure
    * JVM: real Huffman-coded prediction-difference files — all seven
    * T.81 H.1 predictors across the corpus (predictor = 1 + id % 7),
    * deliberately non-block-multiple dimensions, midpoint/first-line/
    * first-column boundary rules in every file
    * ([[graft.multimodal.MediaSynth.losslessJpeg]]) — decoded by the
    * predictor walk in [[graft.multimodal.JpegCodec]] and checked
    * against the per-PIXEL generating formula (no DCT and no quant in
    * this mode, so every sample is exact): a decoder that picks the
    * wrong predictor, mis-handles a boundary, or mis-signs the
    * arithmetic shift in predictors 5–7 cannot match. */
  val q58fLosslessJpegDecode = QueryDef(
    "q58f_lossless_jpeg_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.losslessJpeg))
        .toDF().orderBy("media_id"),
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id, (13 + media_id % 9)::INT AS w,
               (11 + media_id % 7)::INT AS h
        FROM ids),
      px AS (
        SELECT d.media_id, d.w, d.h,
               ((d.media_id*37 + 11*gx.x + 23*gy.y + 3*gx.x*gy.y) % 256) AS g
        FROM d, (SELECT unnest(range(0, 21)) AS x) gx,
                (SELECT unnest(range(0, 17)) AS y) gy
        WHERE gx.x < d.w AND gy.y < d.h)
      SELECT media_id, 'jpeg' AS format, any_value(w) AS width,
             any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
             (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
             (3 * sum(g))::BIGINT AS sum_values,
             min(g)::INT AS min_value, max(g)::INT AS max_value,
             sum(g)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
             sum(g)::BIGINT AS sum_b
      FROM px GROUP BY media_id
      ORDER BY media_id
    """))

  /** Progressive (SOF2) JPEG payload decode end to end, pure JVM: real
    * multi-scan progressive files — DC first/refinement passes under
    * successive approximation (Al=1→0, with nonzero refinement bits from
    * odd gray values via the q(0)=8 quant trick), spectral-selection AC
    * band scans carried entirely by EOB runs, non-interleaved grayscale
    * DC scans, and 4:2:0 with DRI/RSTn inside every scan
    * ([[graft.multimodal.MediaSynth.progressiveJpeg]]) — decoded by the
    * multi-scan coefficient-accumulation pipeline in
    * [[graft.multimodal.JpegCodec]] and checked against the same
    * closed-form block oracle as q58d: a wrong successive-approximation
    * shift, EOB-run count, band bound, or scan ordering shifts a sum and
    * breaks the hash. (javax.imageio cross-validates both directions in
    * JpegCodecSpec, including the JDK encoder's full 10-scan progressive
    * script on AC-bearing images.) */
  val q58eProgressiveJpegDecode = QueryDef(
    "q58e_progressive_jpeg_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.progressiveJpeg)).toDF().orderBy("media_id"),
    Some(jpegBlocksOracleSql))

  /** Image near-duplicate detection over REAL decoded pixels — the
    * multimodal dedup step of a training-data pipeline: a corpus of
    * grayscale images (groups of 5 perturbed variants of a shared base,
    * emitted through three real containers — PNG, GIF, top-down BMP —
    * [[graft.multimodal.MediaSynth.nearDupImage]]) is container-decoded
    * ([[graft.multimodal.Multimodal.dhash]]), fingerprinted with the
    * integer-exact 64-bit dHash, and joined by the SAME banded hamming
    * machinery as text simhash
    * ([[graft.operators.Dedup.bandedHammingPairs]], 4×16-bit bands —
    * shuffle on (band, chunk), never the n² pair space). The oracle
    * recomputes every dHash bit from the closed-form pixel formulas (it
    * only needs the 9×8 sampled grid) and replays the banded join — a
    * decoder that flips BMP rows, mis-sequences GIF interlace, or
    * mis-rounds the luma produces different bits and fails the hash. */
  val q75ImageNearDup = QueryDef(
    "q75_image_neardup",
    (s, d) => {
      val media = synthMedia(s, d, 300, graft.multimodal.MediaSynth.nearDupImage)
      val fps = Multimodal.dhash(media).toDF()
        .filter(col("dhash").isNotNull)
        .select(col("media_id").as("sid"), col("dhash").as("fp"))
      graft.operators.Dedup.bandedHammingPairs(fps, bits = 64, bands = 4)
        .filter(col("hamming") <= 10)
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id, media_id // 5 AS g, media_id % 5 AS v,
               (16 + (media_id // 5) % 5)::INT AS w,
               (12 + (media_id // 5) % 3)::INT AS h
        FROM ids),
      grid AS (
        SELECT d.media_id, d.g, d.v, gr.r, gc.c,
               (gc.c * d.w // 9) AS sx, (gr.r * d.h // 8) AS sy
        FROM d,
             (SELECT unnest(range(0, 9)) AS c) gc,
             (SELECT unnest(range(0, 8)) AS r) gr),
      gray AS (
        SELECT media_id, r, c,
          ((g*31 + 5*sx*sx + 3*sy*sy + 7*sx*sy
            + CASE WHEN v = 1 THEN 3
                   WHEN v = 2 AND (sx + 7*sy + media_id) % 19 = 0 THEN 40
                   WHEN v = 3 AND (sx + 5*sy + media_id) % 17 = 0 THEN 56
                   WHEN v = 4 AND (sx + 3*sy + media_id) % 7 = 0 THEN 64
                   ELSE 0 END) % 256) AS gv
        FROM grid),
      fp AS (
        SELECT media_id,
               string_agg(CASE WHEN gv < nxt THEN '1' ELSE '0' END, ''
                          ORDER BY r, c) AS fp
        FROM (SELECT media_id, r, c, gv,
                     lead(gv) OVER (PARTITION BY media_id, r ORDER BY c) AS nxt
              FROM gray)
        WHERE c < 8
        GROUP BY media_id),
      banded AS (
        SELECT media_id, fp, b.band, substr(fp, (b.band*16+1)::INT, 16) AS bv
        FROM fp, (SELECT unnest(range(4)) AS band) b),
      pairs AS (
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
               a.fp AS fp_a, b.fp AS fp_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bv = b.bv
                     AND a.media_id < b.media_id)
      SELECT id_a, id_b,
             list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(fp_a, i::INT, 1) <> substr(fp_b, i::INT, 1)
                    THEN 1 ELSE 0 END))::BIGINT AS hamming
      FROM pairs
      WHERE list_sum(list_transform(range(1, 65), i ->
              CASE WHEN substr(fp_a, i::INT, 1) <> substr(fp_b, i::INT, 1)
                   THEN 1 ELSE 0 END)) <= 10
      ORDER BY id_a, id_b
    """))

  /** Audio near-duplicate detection over REAL decoded PCM — the audio
    * half of multimodal dedup, completing the image pipeline of q75: a
    * corpus of mono 16-bit PCM WAVs (groups of 5 perturbed variants of a
    * shared base signal, [[graft.multimodal.MediaSynth.nearDupWav]]) is
    * chunk-walked + sample-decoded
    * ([[graft.multimodal.HeaderCodec.decodeWavSamples]]), fingerprinted
    * with the integer-exact 64-bit frame-energy difference hash
    * ([[graft.multimodal.Multimodal.energyHashBits]] — bit f compares
    * adjacent frame energies, so global gain shifts cancel), and joined
    * by the SAME banded hamming machinery as images and text simhash
    * (shuffle on (band, chunk), never the n² pair space). The oracle
    * recomputes every sample from the closed-form formula, replays the
    * frame assignment floor(65·j/n) and energy sums, and re-derives the
    * banded join — a decoder that misreads chunk offsets, drops the
    * sign-extension, or mis-buckets a boundary sample produces different
    * bits and fails the hash. */
  val q79AudioNearDup = QueryDef(
    "q79_audio_neardup",
    (s, d) => {
      val media = synthMedia(s, d, 300, graft.multimodal.MediaSynth.nearDupWav)
      val fps = Multimodal.audioHash(media).toDF()
        .filter(col("ahash").isNotNull)
        .select(col("media_id").as("sid"), col("ahash").as("fp"))
      graft.operators.Dedup.bandedHammingPairs(fps, bits = 64, bands = 4)
        .filter(col("hamming") <= 10)
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id, media_id // 5 AS g, media_id % 5 AS v,
               (260 + (media_id // 5) % 60)::INT AS n
        FROM ids),
      smp AS (
        SELECT d.media_id, d.n, j.j,
          ((d.g*37 + (5*j.j*j.j) // 7 + 3*j.j
            + CASE WHEN v = 1 THEN 3
                   WHEN v = 2 AND (7*j.j + media_id) % 19 = 0 THEN 40
                   WHEN v = 3 AND (5*j.j + media_id) % 17 = 0 THEN 56
                   WHEN v = 4 AND (3*j.j + media_id) % 7 = 0 THEN 64
                   ELSE 0 END) % 2048) AS sv
        FROM d JOIN (SELECT unnest(range(0, 320)) AS j) j ON j.j < d.n),
      e AS (
        SELECT media_id, (j*65) // n AS f, sum(abs(sv)) AS en
        FROM smp GROUP BY media_id, (j*65) // n),
      fp AS (
        SELECT media_id,
               string_agg(CASE WHEN en < nxt THEN '1' ELSE '0' END, ''
                          ORDER BY f) AS fp
        FROM (SELECT media_id, f, en,
                     lead(en) OVER (PARTITION BY media_id ORDER BY f) AS nxt
              FROM e)
        WHERE f < 64
        GROUP BY media_id),
      banded AS (
        SELECT media_id, fp, b.band, substr(fp, (b.band*16+1)::INT, 16) AS bv
        FROM fp, (SELECT unnest(range(4)) AS band) b),
      pairs AS (
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b,
               a.fp AS fp_a, b.fp AS fp_b
        FROM banded a
        JOIN banded b ON a.band = b.band AND a.bv = b.bv
                     AND a.media_id < b.media_id)
      SELECT id_a, id_b,
             list_sum(list_transform(range(1, 65), i ->
               CASE WHEN substr(fp_a, i::INT, 1) <> substr(fp_b, i::INT, 1)
                    THEN 1 ELSE 0 END))::BIGINT AS hamming
      FROM pairs
      WHERE list_sum(list_transform(range(1, 65), i ->
              CASE WHEN substr(fp_a, i::INT, 1) <> substr(fp_b, i::INT, 1)
                   THEN 1 ELSE 0 END)) <= 10
      ORDER BY id_a, id_b
    """))

  /** Video near-duplicate detection over REAL decoded frames — the
    * video leg of multimodal dedup, completing the image (q75) / audio
    * (q79) family: a corpus of animated GIF clips (groups of 5 perturbed
    * variants of a shared base clip with a per-frame motion term,
    * [[graft.multimodal.MediaSynth.nearDupVideo]]) is multi-frame
    * decoded ([[graft.multimodal.HeaderCodec.decodeGifFrames]] — real
    * LZW per frame, GCE/NETSCAPE extension walk between frames),
    * sampled every 2nd frame, per-frame dHashed
    * ([[graft.multimodal.Multimodal.videoFrameHashes]]), and paired by
    * the banded hamming join KEYED ON FRAME POSITION
    * ([[graft.operators.Dedup.bandedHammingPairsBy]]); a pair survives
    * when a majority of comparable positions match
    * ([[graft.multimodal.Multimodal.videoNearDup]]). The oracle
    * recomputes every sampled frame's dHash bits from the closed-form
    * (id, f, x, y) formula and replays the keyed join and the majority
    * vote — integer math end to end. */
  val q82VideoNearDup = QueryDef(
    "q82_video_neardup",
    (s, d) => {
      val media = synthMedia(s, d, 300, graft.multimodal.MediaSynth.nearDupVideo)
      Multimodal.videoNearDup(Multimodal.videoFrameHashes(media, frameStride = 2))
        .orderBy("id_a", "id_b")
    },
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id, media_id // 5 AS g, media_id % 5 AS v,
               (16 + (media_id // 5) % 5)::INT AS w,
               (12 + (media_id // 5) % 3)::INT AS h,
               (8 + (media_id // 5) % 5)::INT AS nf
        FROM ids),
      frames AS (
        SELECT d.*, fr.f
        FROM d, (SELECT unnest(range(0, 12)) AS f) fr
        WHERE fr.f < d.nf AND fr.f % 2 = 0),
      grid AS (
        SELECT fm.media_id, fm.g, fm.v, fm.f, gr.r, gc.c,
               (gc.c * fm.w // 9) AS sx, (gr.r * fm.h // 8) AS sy
        FROM frames fm,
             (SELECT unnest(range(0, 9)) AS c) gc,
             (SELECT unnest(range(0, 8)) AS r) gr),
      gray AS (
        SELECT media_id, f, r, c,
          ((g*31 + (5 + g%7)*sx*sx + (3 + g%5)*sy*sy + 7*sx*sy
            + (9 + g%4)*f*(sx + sy + 1)
            + CASE WHEN v = 1 THEN 3
                   WHEN v = 2 AND (sx + 7*sy + 5*f + media_id) % 19 = 0 THEN 40
                   WHEN v = 3 AND (sx + 5*sy + 3*f + media_id) % 17 = 0 THEN 56
                   WHEN v = 4 AND (sx + 3*sy + 2*f + media_id) % 7 = 0 THEN 64
                   ELSE 0 END) % 256) AS gv
        FROM grid),
      fp AS (
        SELECT media_id, f,
               string_agg(CASE WHEN gv < nxt THEN '1' ELSE '0' END, ''
                          ORDER BY r, c) AS fp
        FROM (SELECT media_id, f, r, c, gv,
                     lead(gv) OVER (PARTITION BY media_id, f ORDER BY r, c) AS nxt
              FROM gray)
        WHERE c < 8
        GROUP BY media_id, f),
      nsampled AS (
        SELECT media_id, count(*) AS ns FROM fp GROUP BY media_id),
      banded AS (
        SELECT media_id, f, fp, b.band, substr(fp, (b.band*16+1)::INT, 16) AS bv
        FROM fp, (SELECT unnest(range(4)) AS band) b),
      pairs AS (
        SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.f,
               a.fp AS fp_a, b.fp AS fp_b
        FROM banded a
        JOIN banded b ON a.f = b.f AND a.band = b.band AND a.bv = b.bv
                     AND a.media_id < b.media_id),
      matched AS (
        SELECT id_a, id_b, count(*) AS n_match
        FROM pairs
        WHERE list_sum(list_transform(range(1, 65), i ->
                CASE WHEN substr(fp_a, i::INT, 1) <> substr(fp_b, i::INT, 1)
                     THEN 1 ELSE 0 END)) <= 10
        GROUP BY id_a, id_b)
      SELECT m.id_a, m.id_b, m.n_match::BIGINT AS n_match,
             least(na.ns, nb.ns)::BIGINT AS n_common
      FROM matched m
      JOIN nsampled na ON na.media_id = m.id_a
      JOIN nsampled nb ON nb.media_id = m.id_b
      WHERE m.n_match * 2 >= least(na.ns, nb.ns)
      ORDER BY m.id_a, m.id_b
    """))

  /** Nearest-neighbor resize end to end over the three real containers
    * (PNG / GIF / top-down BMP, [[graft.multimodal.MediaSynth.nearDupImage]]):
    * every image is container-decoded and resampled to a fixed 8×8 raster
    * ([[graft.multimodal.Multimodal.resizeDigest]]), and the oracle
    * recomputes every RESIZED pixel from the generating formulas through
    * the same floor-division source mapping — the position-weighted
    * checksum means a resampler that transposes, reflects, rounds
    * instead of flooring, or is off by one row cannot match. */
  val q89ImageResize = QueryDef(
    "q89_image_resize",
    (s, d) => {
      val media = synthMedia(s, d, 300, graft.multimodal.MediaSynth.nearDupImage)
      Multimodal.resizeDigest(media, 8, 8).toDF().orderBy("media_id")
    },
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id, media_id // 5 AS g, media_id % 5 AS v,
               (16 + (media_id // 5) % 5)::INT AS w,
               (12 + (media_id // 5) % 3)::INT AS h
        FROM ids),
      grid AS (
        SELECT media_id, g, v, w, h, gx.x, gy.y,
               (gx.x * w) // 8 AS sx, (gy.y * h) // 8 AS sy
        FROM d, (SELECT unnest(range(0, 8)) AS x) gx,
                (SELECT unnest(range(0, 8)) AS y) gy),
      gray AS (
        SELECT media_id, x, y,
          ((g*31 + 5*sx*sx + 3*sy*sy + 7*sx*sy
            + CASE WHEN v = 1 THEN 3
                   WHEN v = 2 AND (sx + 7*sy + media_id) % 19 = 0 THEN 40
                   WHEN v = 3 AND (sx + 5*sy + media_id) % 17 = 0 THEN 56
                   WHEN v = 4 AND (sx + 3*sy + media_id) % 7 = 0 THEN 64
                   ELSE 0 END) % 256) AS gv
        FROM grid)
      SELECT gr.media_id,
             CASE gr.media_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'gif'
                                  ELSE 'bmp' END AS format,
             d.w AS in_w, d.h AS in_h, 8 AS out_w, 8 AS out_h,
             sum(gv)::BIGINT AS sum_luma,
             min(gv)::INT AS min_luma, max(gv)::INT AS max_luma,
             sum((1 + x + 8*y) * gv)::BIGINT AS checksum
      FROM gray gr JOIN d USING (media_id)
      GROUP BY gr.media_id, d.w, d.h
      ORDER BY gr.media_id
    """))

  /** Hierarchical (T.81 Annex J) JPEG payload decode end to end, pure
    * JVM: real DHP-framed pyramids ([[graft.multimodal.MediaSynth
    * .hierJpeg]]) — SOF0 base at half resolution + EXP reference doubling
    * + SOF7 differential-lossless correction (grayscale and 3-component
    * variants), and a same-resolution SOF5 differential-DCT quality
    * refinement with the [0,255] clamp exercised — decoded by the
    * multi-frame driver in [[graft.multimodal.HierJpeg]]. The oracle
    * recomputes every pixel in closed form, INCLUDING the J.1.1.2
    * interpolation ((a+b+1)>>1, edge-replicated, horizontal before
    * vertical): a decoder that mis-rounds the upsample, level-shifts a
    * differential frame, mis-orders the expansion passes, or skips the
    * final clamp shifts a sum and breaks the hash. */
  val q58hHierJpegDecode = QueryDef(
    "q58h_hier_jpeg_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.hierJpeg)).toDF().orderBy("media_id"),
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id,
          (CASE media_id % 3
             WHEN 0 THEN 8 * (2 + media_id % 5)
             WHEN 1 THEN 8 * (2 + media_id % 4)
             ELSE 16 * (1 + media_id % 3) END)::INT AS w,
          (CASE media_id % 3
             WHEN 0 THEN 8 * (2 + media_id % 4)
             WHEN 1 THEN 8 * (2 + media_id % 3)
             ELSE 16 * (1 + media_id % 2) END)::INT AS h
        FROM ids),
      g AS (
        SELECT d.media_id, d.w, d.h, d.w // 2 AS w2, d.h // 2 AS h2,
               gx.x, gy.y
        FROM d, (SELECT unnest(range(0, 48)) AS x) gx,
                (SELECT unnest(range(0, 40)) AS y) gy
        WHERE gx.x < d.w AND gy.y < d.h),
      -- J.1.1.2 neighbor indices in the half-res base: for even outputs
      -- u0=u1 and the (a+a+1)>>1 average collapses to a, so one formula
      -- covers copy and interpolate
      uv AS (
        SELECT *, x // 2 AS u0, LEAST(x // 2 + x % 2, w2 - 1) AS u1,
                  y // 2 AS v0, LEAST(y // 2 + y % 2, h2 - 1) AS v1
        FROM g),
      bb AS (
        SELECT media_id, w, h, x, y,
          32 + ((media_id*37 + 11*(u0//8) + 23*(v0//8) + 3*(u0//8)*(v0//8)) % 256) % 192 AS b00,
          32 + ((media_id*37 + 11*(u1//8) + 23*(v0//8) + 3*(u1//8)*(v0//8)) % 256) % 192 AS b10,
          32 + ((media_id*37 + 11*(u0//8) + 23*(v1//8) + 3*(u0//8)*(v1//8)) % 256) % 192 AS b01,
          32 + ((media_id*37 + 11*(u1//8) + 23*(v1//8) + 3*(u1//8)*(v1//8)) % 256) % 192 AS b11
        FROM uv),
      px AS (
        SELECT media_id, w, h, x, y,
          CASE WHEN media_id % 3 = 1 THEN
            LEAST(255, GREATEST(0,
              ((media_id*37 + 11*(x//8) + 23*(y//8) + 3*(x//8)*(y//8)) % 256)
              + ((media_id*5 + 7*(x//8) + 3*(y//8)) % 61) - 30))
          ELSE
            (((b00 + b10 + 1) // 2) + ((b01 + b11 + 1) // 2) + 1) // 2
            + ((media_id + x + 2*y) % 33) - 16
          END AS p
        FROM bb)
      SELECT media_id, 'jpeg' AS format, any_value(w) AS width,
             any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
             (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
             (3 * sum(p))::BIGINT AS sum_values,
             min(p)::INT AS min_value, max(p)::INT AS max_value,
             sum(p)::BIGINT AS sum_r, sum(p)::BIGINT AS sum_g,
             sum(p)::BIGINT AS sum_b
      FROM px GROUP BY media_id
      ORDER BY media_id
    """))

  /** Integer-factor audio downsample (mean/boxcar decimation by 4) over
    * real RIFF/WAV payloads — the audio leg of the resize family (q89 is
    * the image leg): decode 16-bit PCM, average each run of 4 frames per
    * channel with floor division, summarize. The oracle recomputes every
    * output sample from the generator's closed form, including the
    * channel interleave and the floor-toward-negative-infinity rounding
    * on negative PCM (DuckDB's `//` truncates, so the oracle floors in
    * double — exact at these magnitudes). Map-only, stateless — the
    * batch ≡ readStream shape shared with audioHash. */
  val q102AudioResample = QueryDef(
    "q102_audio_resample",
    (s, d) =>
      Multimodal.resampleAudio(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.wav), 4)
        .toDF().orderBy("media_id"),
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id, (1 + media_id % 2)::INT AS ch,
               (8000 + media_id % 1000)::INT AS rate,
               (50 + media_id % 60)::INT AS frames
        FROM ids),
      g AS (
        SELECT d.*, t.t, c.c
        FROM d, (SELECT unnest(range(0, 28)) AS t) t,
                (SELECT unnest(range(0, 2)) AS c) c
        WHERE t.t < frames // 4 AND c.c < ch),
      v AS (
        SELECT media_id, ch, rate,
          floor((
              ((media_id*31 + ((t*4 + 0)*ch + c)*17) % 65536) - 32768
            + ((media_id*31 + ((t*4 + 1)*ch + c)*17) % 65536) - 32768
            + ((media_id*31 + ((t*4 + 2)*ch + c)*17) % 65536) - 32768
            + ((media_id*31 + ((t*4 + 3)*ch + c)*17) % 65536) - 32768
          )::DOUBLE / 4)::INT AS v
        FROM g)
      SELECT media_id, 'wav' AS format, any_value(ch) AS channels,
             any_value(rate) AS in_rate, (any_value(rate) // 4)::INT AS out_rate,
             count(*)::BIGINT AS n_out, sum(v)::BIGINT AS sum_out,
             min(v)::INT AS min_out, max(v)::INT AS max_out
      FROM v GROUP BY media_id
      ORDER BY media_id
    """))

  /** 3-component INTERLEAVED lossless (SOF3) decode — the
    * "multi-component lossless" slice that previously fell to the stub:
    * H.2 MCUs of one sample per component, each channel running its own
    * predictor chain (all seven predictors across the corpus), then the
    * JFIF YCbCr→RGB transform. Cb is neutral and Cr a ±4 ripple chosen
    * so no rounding input lands on an exact .5 (Scala's floor(x+.5) and
    * DuckDB's half-away-from-zero agree everywhere the corpus reaches)
    * while the red channel still exercises the [0,255] clamp. */
  val q58iColorLosslessDecode = QueryDef(
    "q58i_color_lossless_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.losslessColorJpeg))
        .toDF().orderBy("media_id"),
    Some("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id, (13 + media_id % 9)::INT AS w,
               (11 + media_id % 7)::INT AS h
        FROM ids),
      px AS (
        SELECT d.media_id, d.w, d.h,
               ((d.media_id*37 + 11*gx.x + 23*gy.y + 3*gx.x*gy.y) % 256) AS lum,
               ((d.media_id + 3*gx.x + gy.y) % 9) - 4 AS crv
        FROM d, (SELECT unnest(range(0, 21)) AS x) gx,
                (SELECT unnest(range(0, 17)) AS y) gy
        WHERE gx.x < d.w AND gy.y < d.h),
      rgb AS (
        SELECT media_id, w, h,
               LEAST(255, GREATEST(0, round(lum + 1.402 * crv)))::INT AS r,
               LEAST(255, GREATEST(0, round(lum - 0.714136 * crv)))::INT AS g,
               lum::INT AS b
        FROM px)
      SELECT media_id, 'jpeg' AS format, any_value(w) AS width,
             any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
             (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
             sum(r + g + b)::BIGINT AS sum_values,
             min(LEAST(r, g, b))::INT AS min_value,
             max(GREATEST(r, g, b))::INT AS max_value,
             sum(r)::BIGINT AS sum_r, sum(g)::BIGINT AS sum_g,
             sum(b)::BIGINT AS sum_b
      FROM rgb GROUP BY media_id
      ORDER BY media_id
    """))

  /** The constant-block oracle of the 12-bit JPEG decodes (q58j/m/n/o/p):
    * the 12-bit block level downshifted to its top 8 bits. */
  private lazy val jpeg12BlocksOracleSql: String = """
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id,
          (CASE media_id % 3
             WHEN 0 THEN 8 * (2 + media_id % 5)
             WHEN 1 THEN 8 * (2 + media_id % 4)
             ELSE 16 * (1 + media_id % 3) END)::INT AS w,
          (CASE media_id % 3
             WHEN 0 THEN 8 * (2 + media_id % 4)
             WHEN 1 THEN 8 * (2 + media_id % 3)
             ELSE 16 * (1 + media_id % 2) END)::INT AS h
        FROM ids),
      blocks AS (
        SELECT d.media_id, d.w, d.h,
               (((d.media_id*151 + 29*gx.x + 17*gy.y + 5*gx.x*gy.y) % 4096) // 16) AS g
        FROM d,
             (SELECT unnest(range(0, 8)) AS x) gx,
             (SELECT unnest(range(0, 8)) AS y) gy
        WHERE gx.x < d.w // 8 AND gy.y < d.h // 8)
      SELECT media_id, 'jpeg' AS format, any_value(w) AS width,
             any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
             (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
             (3 * 64 * sum(g))::BIGINT AS sum_values,
             min(g)::INT AS min_value, max(g)::INT AS max_value,
             (64 * sum(g))::BIGINT AS sum_r, (64 * sum(g))::BIGINT AS sum_g,
             (64 * sum(g))::BIGINT AS sum_b
      FROM blocks GROUP BY media_id
      ORDER BY media_id
    """

  /** 12-bit extended-sequential (SOF1) decode — the precision leg of the
    * JPEG matrix: grayscale DC-only 12-bit frames (level shift 2048,
    * clamp to [0,4095], DC categories to 15), emitted as the top 8 bits
    * of each sample. The oracle recomputes jpeg12Block >> 4 per pixel; a
    * decoder that level-shifts by 128, caps categories at 11, or clamps
    * to 8 bits before the downshift breaks the hash. */
  val q58jExtended12Decode = QueryDef(
    "q58j_extended12_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.jpeg12))
        .toDF().orderBy("media_id"),
    Some(jpeg12BlocksOracleSql))

  /** 12-bit COLOR extended-sequential (SOF1, 3 components 4:4:4)
    * decode: per-component 12-bit planes, interleaved scan with
    * separate DC predictor chains, and the YCbCr→RGB transform run in
    * the 12-BIT domain before the top-8-bit emission
    * ([[graft.multimodal.MediaSynth.jpeg12Color]] — neutral chroma, so
    * the q58j `>> 4` oracle formula carries over channel-identically;
    * a decoder that transforms after the bit cut, shares one predictor,
    * or mis-levels the chroma shift cannot match). */
  val q58mColor12Decode = QueryDef(
    "q58m_color12_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.jpeg12Color))
        .toDF().orderBy("media_id"),
    Some(jpeg12BlocksOracleSql))

  /** 12-bit PROGRESSIVE ARITHMETIC (SOF10 at precision 12) decode — the
    * composition of the q58j 12-bit sample path and the q58k G.2
    * progressive-arithmetic scan loop
    * ([[graft.multimodal.MediaSynth.prog12ArithJpeg]]): DC first on
    * point-transformed 12-bit values, all-zero AC bands, fixed-state DC
    * refinement, G.2.3 AC refinement; even ids grayscale, odd ids 4:4:4
    * color with neutral chroma and a DAC segment, reconstructed through
    * unshifted Int planes and the 12-bit-domain YCbCr→top-8 emission.
    * The oracle is q58j's `jpeg12Block >> 4` formula (neutral chroma
    * makes color and gray stats identical); a decoder that level-shifts
    * by 128, reconstructs before the refinement scans land, or cuts to
    * 8 bits before the transform cannot match. */
  val q58nProg12ArithDecode = QueryDef(
    "q58n_prog12_arith_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.prog12ArithJpeg))
        .toDF().orderBy("media_id"),
    Some(jpeg12BlocksOracleSql))

  /** 12-bit SEQUENTIAL ARITHMETIC (SOF9 at precision 12) decode — the
    * remaining sequential leg of the 12-bit matrix
    * ([[graft.multimodal.MediaSynth.seq12ArithJpeg]]): F.1.4.4 QM
    * models with DC magnitudes running to 15 doublings, and a variant
    * matrix composing grayscale/color, DAC conditioning, and DRI=2
    * restart intervals (per-interval QM segments + statistics resets)
    * with the 12-bit sample path. Same closed-form q58j oracle
    * (neutral chroma); SOF1↔SOF9 raster identity pinned in
    * JpegCodecSpec. */
  val q58oSeq12ArithDecode = QueryDef(
    "q58o_seq12_arith_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.seq12ArithJpeg))
        .toDF().orderBy("media_id"),
    Some(jpeg12BlocksOracleSql))

  /** 12-bit PROGRESSIVE HUFFMAN (SOF2 at precision 12) decode — the
    * last composable 12-bit leg
    * ([[graft.multimodal.MediaSynth.prog12Jpeg]]): sixteen-category DC
    * tables (12-bit DC differences reach category 15 per T.81
    * F.1.2.1.2 — an 8-bit decoder's t≤11 cap fails these files), with
    * variants trading deep categories (all-ones quant → category 14)
    * against nonzero DC-refinement bits (q(0)=8, odd samples), and
    * DRI=2 restart intervals inside every scan on half the corpus.
    * Same closed-form q58j oracle; SOF1↔SOF2-12bit raster identity
    * pinned in JpegCodecSpec. */
  val q58pProg12HuffDecode = QueryDef(
    "q58p_prog12_huff_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.prog12Jpeg))
        .toDF().orderBy("media_id"),
    Some(jpeg12BlocksOracleSql))

  /** ARITHMETIC hierarchical (SOF9/SOF13 inside a DHP pyramid) decode —
    * the QM coder composed with the Annex J multi-frame driver
    * ([[graft.multimodal.MediaSynth.hierArithJpeg]]): full-res base +
    * differential quality refinement (gray and color twins), and a
    * half-res pyramid with EXP doubling + a differential correction.
    * The oracle recomputes every pixel in closed form including the
    * J.1.1.2 interpolation; a decoder that level-shifts a differential
    * frame, resets the DC chain mid-scan, or mis-walks the QM flush
    * bytes to the next marker cannot match. */
  val q58qHierArithDecode = QueryDef(
    "q58q_hier_arith_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.hierArithJpeg))
        .toDF().orderBy("media_id"),
    Some(hierArithOracleSql))

  /** PROGRESSIVE-arithmetic hierarchical (SOF10/SOF14 in a DHP pyramid)
    * decode — multi-scan frames inside a hierarchy, the deepest
    * composition of T.81 G.2 and Annex J
    * ([[graft.multimodal.MediaSynth.hierProgArithJpeg]]): every frame
    * runs the full progressive scan script (DC first at Al=1, band
    * AC scans, raw-bit DC refinement, G.2.3 AC refinement), so the
    * decoder must hold the frame's coefficient store open across scans
    * and reconstruct only at the NEXT frame-level marker. Same variant
    * matrix and closed-form oracle as q58q (identical final pixels by
    * construction); HierJpegSpec pins the raster pixel-exactly. */
  val q58rHierProgArithDecode = QueryDef(
    "q58r_hier_prog_arith_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.hierProgArithJpeg))
        .toDF().orderBy("media_id"),
    Some(hierArithOracleSql))

  /** PROGRESSIVE-Huffman hierarchical (SOF2/SOF6 in a DHP pyramid)
    * decode — the Huffman twin of q58r
    * ([[graft.multimodal.MediaSynth.hierProgJpeg]]): EOB-run band
    * scans, raw-bit refinements, per-scan predictor resets, the frame's
    * coefficient store held open across scans. Same variant matrix and
    * oracle; HierJpegSpec additionally pins the raster identical to the
    * arithmetic twin's. */
  val q58sHierProgHuffDecode = QueryDef(
    "q58s_hier_prog_huff_decode",
    (s, d) =>
      Multimodal.extractContentStats(
        synthMedia(s, d, 300, graft.multimodal.MediaSynth.hierProgJpeg))
        .toDF().orderBy("media_id"),
    Some(hierArithOracleSql))

  private lazy val hierArithOracleSql: String = ("""
      WITH ids AS (
        SELECT DISTINCT (o_orderkey % 300)::BIGINT AS media_id FROM orders),
      d AS (
        SELECT media_id,
          (CASE media_id % 3
             WHEN 0 THEN 8 * (2 + media_id % 5)
             WHEN 1 THEN 8 * (2 + media_id % 4)
             ELSE 16 * (1 + media_id % 3) END)::INT AS w,
          (CASE media_id % 3
             WHEN 0 THEN 8 * (2 + media_id % 4)
             WHEN 1 THEN 8 * (2 + media_id % 3)
             ELSE 16 * (1 + media_id % 2) END)::INT AS h
        FROM ids),
      g AS (
        SELECT d.media_id, d.w, d.h, d.w // 2 AS w2, d.h // 2 AS h2,
               gx.x, gy.y
        FROM d, (SELECT unnest(range(0, 48)) AS x) gx,
                (SELECT unnest(range(0, 40)) AS y) gy
        WHERE gx.x < d.w AND gy.y < d.h),
      uv AS (
        SELECT *, x // 2 AS u0, LEAST(x // 2 + x % 2, w2 - 1) AS u1,
                  y // 2 AS v0, LEAST(y // 2 + y % 2, h2 - 1) AS v1
        FROM g),
      bb AS (
        SELECT media_id, w, h, x, y,
          32 + ((media_id*37 + 11*(u0//8) + 23*(v0//8) + 3*(u0//8)*(v0//8)) % 256) % 192 AS b00,
          32 + ((media_id*37 + 11*(u1//8) + 23*(v0//8) + 3*(u1//8)*(v0//8)) % 256) % 192 AS b10,
          32 + ((media_id*37 + 11*(u0//8) + 23*(v1//8) + 3*(u0//8)*(v1//8)) % 256) % 192 AS b01,
          32 + ((media_id*37 + 11*(u1//8) + 23*(v1//8) + 3*(u1//8)*(v1//8)) % 256) % 192 AS b11
        FROM uv),
      px AS (
        SELECT media_id, w, h, x, y,
          CASE WHEN media_id % 3 = 2 THEN
            -- pyramid: J.1.1.2 upsample of the half-res base, plus the
            -- per-block differential correction (no clamp engaged by
            -- construction)
            (((b00 + b10 + 1) // 2) + ((b01 + b11 + 1) // 2) + 1) // 2
            + ((media_id*5 + 7*(x//8) + 3*(y//8)) % 61) - 30
          ELSE
            -- full-res base + differential refinement, clamped
            LEAST(255, GREATEST(0,
              ((media_id*37 + 11*(x//8) + 23*(y//8) + 3*(x//8)*(y//8)) % 256)
              + ((media_id*5 + 7*(x//8) + 3*(y//8)) % 61) - 30))
          END AS p
        FROM bb)
      SELECT media_id, 'jpeg' AS format, any_value(w) AS width,
             any_value(h) AS height, 3 AS channels, 0 AS sample_rate,
             (3 * any_value(w) * any_value(h))::BIGINT AS n_values,
             (3 * sum(p))::BIGINT AS sum_values,
             min(p)::INT AS min_value, max(p)::INT AS max_value,
             sum(p)::BIGINT AS sum_r, sum(p)::BIGINT AS sum_g,
             sum(p)::BIGINT AS sum_b
      FROM px GROUP BY media_id
      ORDER BY media_id
    """)

  val all: Seq[QueryDef] = Seq(q37MultimodalMeta, q58MultimodalDecode,
    q58bPngDecode, q58cGifDecode, q58dJpegDecode, q58eProgressiveJpegDecode,
    q58fLosslessJpegDecode, q58gArithJpegDecode, q58hHierJpegDecode,
    q58iColorLosslessDecode, q58jExtended12Decode, q58kProgArithJpegDecode,
    q58lArithRstJpegDecode, q58mColor12Decode, q58nProg12ArithDecode,
    q58oSeq12ArithDecode, q58pProg12HuffDecode, q58qHierArithDecode,
    q58rHierProgArithDecode, q58sHierProgHuffDecode,
    q75ImageNearDup, q89ImageResize,
    q79AudioNearDup, q82VideoNearDup, q102AudioResample)
}
