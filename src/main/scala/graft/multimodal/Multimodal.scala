package graft.multimodal

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the 100 TB training-data pipeline:
  * image/audio/video payloads travel as opaque `binary` columns with a
  * typed metadata struct; decode/feature-extraction runs per-partition in
  * batches.
  *
  * Decode is REAL for BMP, WAV, PNG, GIF ([[HeaderCodec]]) and the full
  * Huffman+arithmetic JPEG matrix — baseline, extended sequential
  * (incl. 12-bit grayscale), progressive, lossless (incl. 3-component
  * interleaved), QM-arithmetic sequential, and Annex J hierarchical
  * pyramids ([[JpegCodec]] + [[QmCoder]] + [[HierJpeg]]) — pure-JVM
  * byte math, no codec libraries. Only unknown blobs (and the residual
  * exotic JPEG modes: progressive-arithmetic, arithmetic-with-restarts,
  * 12-bit color, out-of-remit hierarchical) fall to the deterministic
  * [[FakeCodec]] stub, so the plumbing — schema, binary column
  * handling, partition-batched processing shape, metadata structs —
  * always has a defined output.
  *
  * JPEG layers have one owner each: [[JpegCodec]] parses the tables,
  * builds the entropy decoders (Huffman, and QM through [[QmCoder]]),
  * walks every scan kind and owns the IDCT and the colour transform;
  * [[HierJpeg]] owns only what is hierarchical (DHP/EXP and the
  * J.1.1.2 expansion, frame bookkeeping, the reference merge, EOI
  * assembly) and decodes each frame through JpegCodec's layers.
  *
  * Scale notes: payloads stay columnar (parquet binary) end-to-end; the
  * extraction stage is map-only over partitions (no shuffle, no driver
  * materialization); `spark.sql.files.maxPartitionBytes` governs batch
  * size per task at 100 TB.
  */
object Multimodal {

  /** One media row: payload + metadata struct, as a parquet-friendly
    * schema. */
  final case class MediaRow(media_id: Long, kind: String, payload: Array[Byte],
                            width: Int, height: Int, n_bytes: Long)

  /** Extracted per-media features (the stub's deterministic output). */
  final case class MediaFeatures(media_id: Long, content_hash: String,
                                 width: Int, height: Int, aspect_bucket: String)

  /** STUB decode: deterministic pseudo-dimensions from md5(payload).
    * Remit: UNKNOWN blobs only (codec-less formats and the text
    * stand-ins q37 uses) — BMP, WAV, PNG, GIF decode for real in
    * [[HeaderCodec]]; baseline/extended-sequential (incl. 12-bit
    * grayscale)/progressive/lossless (incl. 3-component interleaved)/
    * arithmetic-sequential JPEG in [[JpegCodec]] and Annex J
    * hierarchical pyramids in [[HierJpeg]]; the residual JPEG modes
    * (progressive-arithmetic, arithmetic with restarts, 12-bit color,
    * out-of-remit hierarchical) also fall here, reported as 'stub'
    * rather than half-decoded. */
  object FakeCodec {
    def decode(payload: Array[Byte]): (String, Int, Int) = {
      val md = java.security.MessageDigest.getInstance("MD5")
      val hex = md.digest(payload).map("%02x".format(_)).mkString
      val h = java.lang.Long.parseLong(hex.substring(0, 15), 16)
      val width = (h % 640).toInt + 1
      val height = ((h / 640) % 480).toInt + 1
      (hex, width, height)
    }
  }

  /** Attach a binary payload + metadata to a text corpus (stands in for
    * reading a real media table; demonstrates the binary-column schema). */
  def attachPayload(docs: DataFrame, textCol: String, idCol: String): DataFrame =
    docs.select(
      col(idCol).cast("long").as("media_id"),
      lit("text/fake").as("kind"),
      encode(col(textCol), "UTF-8").as("payload"))
      .withColumn("n_bytes", length(col("payload")).cast("long"))

  /** Per-media container metadata, header-parsed for REAL where the
    * format is self-describing ([[HeaderCodec]]: PNG/BMP/GIF/WAV/JPEG);
    * unrecognized payloads (codec-compressed or text stand-ins) fall
    * back to the deterministic stub with format 'stub'. */
  final case class MediaMetaRow(media_id: Long, format: String, width: Int,
                                height: Int, channels: Int, sample_rate: Int,
                                bit_depth: Int)

  /** Header-real metadata extraction (same partition-batched shape as
    * [[extractFeatures]]): the filter/bucket fields a corpus pipeline
    * needs (dimensions, channels, sample rate) come from the actual
    * container bytes, no codec library required. */
  def extractMeta(media: Dataset[MediaRow]): Dataset[MediaMetaRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        HeaderCodec.sniff(r.payload) match {
          case Some(m) => MediaMetaRow(r.media_id, m.format, m.width,
            m.height, m.channels, m.sampleRate, m.bitDepth)
          case None =>
            val (_, w, h) = FakeCodec.decode(r.payload)
            MediaMetaRow(r.media_id, "stub", w, h, 0, 0, 0)
        }
      }
    }
  }

  /** Decoded payload statistics: one row per media, with the generic
    * value-stream stats (n/sum/min/max) plus per-channel sums for images
    * (a B↔R byte-order bug flips sum_r/sum_b and fails the oracle even
    * though sum_values survives). Audio rows zero the channel sums. */
  final case class MediaStatsRow(media_id: Long, format: String, width: Int,
                                 height: Int, channels: Int, sample_rate: Int,
                                 n_values: Long, sum_values: Long,
                                 min_value: Int, max_value: Int,
                                 sum_r: Long, sum_g: Long, sum_b: Long)

  /** REAL payload decode for every supported format: BMP pixel arrays
    * and WAV 16-bit PCM (pure byte math), PNG (JDK zlib + the five row
    * filters), GIF (pure-JVM LZW + palette), and baseline + progressive
    * JPEG (pure-JVM Huffman + dequant + IDCT, multi-scan coefficient
    * accumulation for SOF2, Annex H predictor walk for SOF3, Annex D/E
    * QM arithmetic for SOF9 — [[JpegCodec]]), and hierarchical Annex J
    * pyramids (DHP/EXP + SOF5/SOF7 differential frames — [[HierJpeg]]).
    * [[FakeCodec]]'s remit is now ONLY unknown blobs and the residual
    * exotic JPEG modes (progressive-arithmetic,
    * arithmetic-with-restarts, 12-bit color, hierarchical frames
    * outside the J remit), reported as format 'stub' with zeroed
    * stats.
    * Same partition-batched, shuffle-free shape as the other extraction
    * stages. */
  def extractContentStats(media: Dataset[MediaRow]): Dataset[MediaStatsRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        def img(format: String, px: HeaderCodec.PixelStats) =
          MediaStatsRow(r.media_id, format, px.width, px.height, 3, 0,
            3L * px.width * px.height, px.sumR + px.sumG + px.sumB,
            px.minV, px.maxV, px.sumR, px.sumG, px.sumB)
        HeaderCodec.decodeBmp(r.payload).map(img("bmp", _))
          .orElse(HeaderCodec.decodePng(r.payload).map(img("png", _)))
          .orElse(HeaderCodec.decodeGif(r.payload).map(img("gif", _)))
          .orElse(JpegCodec.decodeJpeg(r.payload).map(img("jpeg", _)))
          .orElse(HeaderCodec.decodeWav(r.payload).map(pcm =>
            MediaStatsRow(r.media_id, "wav", 0, 0, pcm.channels,
              pcm.sampleRate, pcm.nSamples, pcm.sumSamples,
              pcm.minSample, pcm.maxSample, 0L, 0L, 0L)))
          .getOrElse(
            MediaStatsRow(r.media_id, "stub", 0, 0, 0, 0, 0L, 0L, 0, 0, 0L, 0L, 0L))
      }
    }
  }

  /** Decode any supported image container to its orientation-true RGB
    * bitmap: (format, pixels). None for non-images / unknown blobs. */
  def decodeImagePixels(payload: Array[Byte]): Option[(String, HeaderCodec.Pixels)] =
    HeaderCodec.decodeBmpPixels(payload).map("bmp" -> _)
      .orElse(HeaderCodec.decodePngPixels(payload).map("png" -> _))
      .orElse(HeaderCodec.decodeGifPixels(payload).map("gif" -> _))
      .orElse(JpegCodec.decodeJpegPixels(payload).map("jpeg" -> _))

  /** 64-bit difference hash (dHash) of a decoded bitmap, as a 64-char
    * bit string (the engine's portable-fingerprint convention — the same
    * shape [[graft.operators.Dedup.bandedHammingPairs]] joins on).
    *
    * Construction (integer-exact, so a SQL oracle can recompute it):
    * sample a 9-column × 8-row grid by nearest pixel (sx = c·W/9,
    * sy = r·H/8, floor division), take the ITU-R BT.601 integer luma
    * (299r+587g+114b)/1000 at each sample, and emit bit (r,c) = 1 iff
    * luma(c) < luma(c+1) on that row — 8 comparisons × 8 rows, row-major.
    * dHash encodes local gradients, so it is invariant to global
    * brightness shifts and robust to small sparse edits — the property
    * that makes banded hamming join a real image near-dup operator. */
  def dhashBits(px: HeaderCodec.Pixels): String = {
    val sb = new java.lang.StringBuilder(64)
    var r = 0
    while (r < 8) {
      val sy = r * px.height / 8
      def luma(c: Int): Int = {
        val sx = c * px.width / 9
        (299 * px.r(sx, sy) + 587 * px.g(sx, sy) + 114 * px.b(sx, sy)) / 1000
      }
      var c = 0
      var prev = luma(0)
      while (c < 8) {
        val next = luma(c + 1)
        sb.append(if (prev < next) '1' else '0')
        prev = next
        c += 1
      }
      r += 1
    }
    sb.toString
  }

  /** Per-media perceptual fingerprint row; dhash is null for payloads
    * that are not decodable images (callers filter). */
  final case class DhashRow(media_id: Long, format: String, dhash: String)

  /** Map-only dHash extraction over a media table — the fingerprint
    * stage of image near-dup dedup. STATELESS mapPartitions, so the same
    * call runs on a batch Dataset or a `readStream` one (the streaming
    * multimodal twin — no state store, no watermark); at 100 TB it
    * parallelizes per input split with no shuffle. */
  def dhash(media: Dataset[MediaRow]): Dataset[DhashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        decodeImagePixels(r.payload) match {
          case Some((fmt, px)) => DhashRow(r.media_id, fmt, dhashBits(px))
          case None => DhashRow(r.media_id, "stub", null)
        }
      }
    }
  }

  /** Per-media digest row of [[resizeDigest]]. */
  final case class ResizeRow(media_id: Long, format: String,
      in_w: Int, in_h: Int, out_w: Int, out_h: Int,
      sum_luma: Long, min_luma: Int, max_luma: Int, checksum: Long)

  /** Nearest-neighbor image RESIZE over decoded pixels — the
    * normalization step multimodal training pipelines run before feature
    * extraction (thumbnailing / fixed-input-size models). Source pixel
    * for output (x, y) is (x·W / out_w, y·H / out_h) — integer floor,
    * the [[dhashBits]] grid convention, so a SQL oracle recomputes every
    * output pixel from the generating formulas. Emits an integer digest
    * of the RESIZED raster (sum/min/max of the ITU-R BT.601 integer
    * luma, plus the position-weighted checksum Σ (1 + x + out_w·y)·luma)
    * pinning every pixel VALUE and POSITION — a transposed, reflected,
    * off-by-one, or mis-rounded resample cannot match. Stateless
    * mapPartitions: batch, `readStream`, and 100 TB splits alike, no
    * shuffle. */
  def resizeDigest(media: Dataset[MediaRow], outW: Int, outH: Int): Dataset[ResizeRow] = {
    require(outW > 0 && outH > 0, "output dims must be positive")
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.flatMap { m =>
        decodeImagePixels(m.payload).map { case (fmt, px) =>
          var sum = 0L; var mn = 255; var mx = 0; var ck = 0L
          var y = 0
          while (y < outH) {
            val sy = y * px.height / outH
            var x = 0
            while (x < outW) {
              val sx = x * px.width / outW
              val l = (299 * px.r(sx, sy) + 587 * px.g(sx, sy) +
                114 * px.b(sx, sy)) / 1000
              sum += l; if (l < mn) mn = l; if (l > mx) mx = l
              ck += (1L + x + outW.toLong * y) * l
              x += 1
            }
            y += 1
          }
          ResizeRow(m.media_id, fmt, px.width, px.height, outW, outH,
            sum, mn, mx, ck)
        }
      }
    }
  }

  /** 64-bit frame-energy difference hash of a decoded PCM sample stream —
    * the 1-D audio analogue of [[dhashBits]], in the same portable
    * bit-string shape [[graft.operators.Dedup.bandedHammingPairs]] joins
    * on.
    *
    * Construction (integer-exact, so a SQL oracle can recompute it):
    * sample j belongs to frame floor(65·j/n); a frame's energy is the sum
    * of |sample| over its members (empty frames — only possible when
    * n < 65 — carry energy 0); bit f = 1 iff energy(f) < energy(f+1),
    * f = 0..63. Comparing ADJACENT frame energies rather than absolute
    * levels makes the fingerprint invariant to global gain shifts and
    * robust to small sparse edits — the property that turns the banded
    * hamming join into an audio near-dup operator. */
  def energyHashBits(samples: Array[Int]): String = {
    val n = samples.length
    if (n == 0) return null
    val e = new Array[Long](65)
    var j = 0
    while (j < n) {
      e(((j.toLong * 65) / n).toInt) += math.abs(samples(j).toLong)
      j += 1
    }
    val sb = new java.lang.StringBuilder(64)
    var f = 0
    while (f < 64) {
      sb.append(if (e(f) < e(f + 1)) '1' else '0')
      f += 1
    }
    sb.toString
  }

  /** Per-media audio fingerprint row; ahash is null for payloads that
    * are not decodable PCM audio (callers filter). */
  final case class AudioHashRow(media_id: Long, format: String, ahash: String)

  /** Map-only audio-fingerprint extraction over a media table — the
    * fingerprint stage of audio near-dup dedup, mirroring [[dhash]]:
    * STATELESS mapPartitions, so the same call runs on a batch Dataset or
    * a `readStream` one (no state store, no watermark); at 100 TB it
    * parallelizes per input split with no shuffle. */
  def audioHash(media: Dataset[MediaRow]): Dataset[AudioHashRow] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        HeaderCodec.decodeWavSamples(r.payload) match {
          case Some(pcm) => AudioHashRow(r.media_id, "wav", energyHashBits(pcm.samples))
          case None => AudioHashRow(r.media_id, "stub", null)
        }
      }
    }
  }

  /** Downsampled-audio summary row; format 'stub' for non-PCM payloads. */
  final case class AudioResampleRow(media_id: Long, format: String,
                                    channels: Int, in_rate: Int, out_rate: Int,
                                    n_out: Long, sum_out: Long,
                                    min_out: Int, max_out: Int)

  /** Integer-factor audio downsample (boxcar/mean decimation): per
    * channel, each run of `factor` consecutive FRAMES averages into one
    * output sample (floor division — Math.floorDiv, so negative PCM
    * rounds toward -inf identically in the DuckDB oracle's
    * floor(sum/F)). The box mean is the standard anti-aliasing
    * pre-filter for integer decimation; a trailing partial box is
    * dropped (out frames = inFrames/factor). Same stateless
    * mapPartitions shape as [[audioHash]] — map-only at any scale,
    * batch ≡ readStream. */
  def resampleAudio(media: Dataset[MediaRow], factor: Int): Dataset[AudioResampleRow] = {
    require(factor >= 1)
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      rows.map { r =>
        HeaderCodec.decodeWavSamples(r.payload) match {
          case Some(pcm) =>
            val ch = pcm.channels
            val inFrames = pcm.samples.length / ch
            val outFrames = inFrames / factor
            var sum = 0L; var mn = Int.MaxValue; var mx = Int.MinValue
            var t = 0
            while (t < outFrames) {
              var c = 0
              while (c < ch) {
                var acc = 0L
                var i = 0
                while (i < factor) {
                  acc += pcm.samples((t * factor + i) * ch + c)
                  i += 1
                }
                val v = Math.floorDiv(acc, factor.toLong).toInt
                sum += v
                if (v < mn) mn = v
                if (v > mx) mx = v
                c += 1
              }
              t += 1
            }
            if (outFrames == 0) AudioResampleRow(r.media_id, "wav", ch,
              pcm.sampleRate, pcm.sampleRate / factor, 0L, 0L, 0, 0)
            else AudioResampleRow(r.media_id, "wav", ch, pcm.sampleRate,
              pcm.sampleRate / factor, outFrames.toLong * ch, sum, mn, mx)
          case None =>
            AudioResampleRow(r.media_id, "stub", 0, 0, 0, 0L, 0L, 0, 0)
        }
      }
    }
  }

  /** One sampled video frame's perceptual fingerprint. */
  final case class FrameHashRow(media_id: Long, frame_idx: Int,
                                n_sampled: Int, dhash: String)

  /** Frame sampling + per-frame dHash over a video table (animated GIF
    * container, [[HeaderCodec.decodeGifFrames]]) — the video leg of
    * multimodal dedup: decode the clip, keep every `frameStride`-th
    * frame (the standard sampling step — nobody fingerprints every
    * frame of 30 fps video), dHash each sampled frame. One output row
    * per sampled frame, `n_sampled` carried on every row so downstream
    * matching needs no second pass. STATELESS mapPartitions like
    * [[dhash]]/[[audioHash]] (batch ≡ readStream); non-video payloads
    * contribute no rows. */
  def videoFrameHashes(media: Dataset[MediaRow],
                       frameStride: Int = 2): Dataset[FrameHashRow] = {
    import media.sparkSession.implicits._
    require(frameStride >= 1, "frameStride must be >= 1")
    media.mapPartitions { rows =>
      rows.flatMap { r =>
        HeaderCodec.decodeGifFrames(r.payload) match {
          case Some(frames) if frames.nonEmpty =>
            val sampled = frames.indices.by(frameStride)
            sampled.map(f =>
              FrameHashRow(r.media_id, f, sampled.size, dhashBits(frames(f))))
          case _ => Nil
        }
      }
    }
  }

  /** Video near-duplicate pairs from sampled frame hashes: the banded
    * hamming join runs PER FRAME POSITION
    * ([[graft.operators.Dedup.bandedHammingPairsBy]] keyed on
    * frame_idx — the time axis makes the buckets finer, never
    * coarser), matched positions (hamming ≤ maxHamming) are counted per
    * pair, and a pair survives when a majority of its comparable
    * positions (min of the two clips' sampled counts) match. Integer
    * output only — (id_a, id_b, n_match, n_common) — so a SQL oracle
    * replays it exactly. */
  def videoNearDup(frameHashes: Dataset[FrameHashRow],
                   maxHamming: Int = 10): DataFrame = {
    val fh = frameHashes.toDF()
    val fps = fh.select(col("media_id").as("sid"), col("frame_idx"),
      col("dhash").as("fp"))
    val counts = fh.select(col("media_id"), col("n_sampled")).distinct()
    val pairs = graft.operators.Dedup
      .bandedHammingPairsBy(fps, Seq("frame_idx"), bits = 64, bands = 4)
      .filter(col("hamming") <= maxHamming)
      .groupBy("id_a", "id_b").agg(count(lit(1)).as("n_match"))
    pairs
      .join(counts.select(col("media_id").as("id_a"), col("n_sampled").as("__na")), "id_a")
      .join(counts.select(col("media_id").as("id_b"), col("n_sampled").as("__nb")), "id_b")
      .withColumn("n_common", least(col("__na"), col("__nb")).cast("long"))
      .filter(col("n_match") * 2 >= col("n_common"))
      .select(col("id_a"), col("id_b"), col("n_match"), col("n_common"))
  }

  /** Partition-batched feature extraction: the mapPartitions shape a real
    * decoder needs (amortized per-partition setup, streaming iterator —
    * no per-row codec init, no collect). */
  def extractFeatures(media: Dataset[MediaRow]): Dataset[MediaFeatures] = {
    import media.sparkSession.implicits._
    media.mapPartitions { rows =>
      // per-partition setup would init the real codec here, once
      rows.map { r =>
        val (hash, w, h) = FakeCodec.decode(r.payload)
        val aspect = if (w >= h) "landscape" else "portrait"
        MediaFeatures(r.media_id, hash, w, h, aspect)
      }
    }
  }
}
