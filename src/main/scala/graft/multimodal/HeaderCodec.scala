package graft.multimodal

import JpegCodec.{be16, u8}

/** REAL metadata decode for self-describing media containers — pure
  * byte parsing, no codec libraries: PNG (IHDR), BMP (info header), GIF
  * (logical screen descriptor), WAV (RIFF fmt chunk walk), JPEG (SOF
  * marker walk). Payload decode is also real wherever the JVM suffices:
  * BMP pixel arrays and WAV PCM (plain byte math), PNG ([[decodePng]]:
  * `java.util.zip.Inflater` + the five spec filters), and GIF
  * ([[decodeGif]]: pure-JVM variable-width LZW + palette). Only JPEG —
  * actual entropy coding — falls back to [[Multimodal.FakeCodec]].
  */
object HeaderCodec {

  /** Parsed container metadata; audio fields are 0 for images and vice
    * versa. */
  final case class MediaMeta(format: String, width: Int, height: Int,
                             channels: Int, sampleRate: Int, bitDepth: Int)

  private def le16(b: Array[Byte], i: Int): Int = u8(b, i) | (u8(b, i + 1) << 8)
  private def be32(b: Array[Byte], i: Int): Int =
    (u8(b, i) << 24) | (u8(b, i + 1) << 16) | (u8(b, i + 2) << 8) | u8(b, i + 3)
  private def le32(b: Array[Byte], i: Int): Int =
    u8(b, i) | (u8(b, i + 1) << 8) | (u8(b, i + 2) << 16) | (u8(b, i + 3) << 24)
  private def ascii(b: Array[Byte], i: Int, n: Int): String =
    new String(b.slice(i, i + n), "US-ASCII")

  private val PngSig =
    Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte)

  /** Sniff the container and parse its header; None for unrecognized or
    * truncated payloads. */
  def sniff(b: Array[Byte]): Option[MediaMeta] = {
    if (b.length >= 33 && b.take(8).sameElements(PngSig) &&
        ascii(b, 12, 4) == "IHDR")
      Some(MediaMeta("png", be32(b, 16), be32(b, 20), 0, 0, u8(b, 24)))
    else if (b.length >= 30 && b(0) == 'B' && b(1) == 'M')
      Some(MediaMeta("bmp", le32(b, 18), math.abs(le32(b, 22)), 0, 0, le16(b, 28)))
    else if (b.length >= 10 &&
        (ascii(b, 0, 6) == "GIF87a" || ascii(b, 0, 6) == "GIF89a"))
      Some(MediaMeta("gif", le16(b, 6), le16(b, 8), 0, 0, 0))
    else if (b.length >= 12 && ascii(b, 0, 4) == "RIFF" &&
        ascii(b, 8, 4) == "WAVE")
      sniffWav(b)
    else if (b.length >= 4 && u8(b, 0) == 0xff && u8(b, 1) == 0xd8)
      sniffJpeg(b)
    else None
  }

  /** Walk RIFF chunks to the `fmt ` chunk (not assumed first). */
  private def sniffWav(b: Array[Byte]): Option[MediaMeta] = {
    var i = 12
    while (i + 8 <= b.length) {
      val id = ascii(b, i, 4)
      val size = le32(b, i + 4)
      if (id == "fmt " && i + 8 + 16 <= b.length)
        return Some(MediaMeta("wav", 0, 0,
          channels = le16(b, i + 10), sampleRate = le32(b, i + 12),
          bitDepth = le16(b, i + 22)))
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    None
  }

  /** Per-channel pixel statistics from an uncompressed 24-bit BMP — the
    * payload-decode step that needs NO codec library, just byte math. */
  final case class PixelStats(width: Int, height: Int,
      sumR: Long, sumG: Long, sumB: Long, minV: Int, maxV: Int)

  /** A decoded RGB bitmap: `rgb` is 3·width·height bytes, row-major,
    * TOP row first (BMP bottom-up rows are flipped, GIF interlaced rows
    * are re-sequenced at decode time) — the orientation-true pixel form
    * that perceptual hashing ([[Multimodal.dhashBits]]) needs, where the
    * order-invariant [[PixelStats]] would not notice a flipped decode. */
  final case class Pixels(width: Int, height: Int, rgb: Array[Byte]) {
    def r(x: Int, y: Int): Int = rgb(3 * (y * width + x)) & 0xff
    def g(x: Int, y: Int): Int = rgb(3 * (y * width + x) + 1) & 0xff
    def b(x: Int, y: Int): Int = rgb(3 * (y * width + x) + 2) & 0xff
  }

  /** Fold a decoded bitmap into the per-channel stats the q58-family
    * oracles check (row-order invariant, so flips/deinterlacing cannot
    * affect it — the pixel decoders stay the single source of truth). */
  def statsOf(px: Pixels): PixelStats = {
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var minV = 255; var maxV = 0
    var i = 0
    while (i < px.rgb.length) {
      val rr = px.rgb(i) & 0xff
      val gg = px.rgb(i + 1) & 0xff
      val bb = px.rgb(i + 2) & 0xff
      sumR += rr; sumG += gg; sumB += bb
      val lo = math.min(bb, math.min(gg, rr))
      val hi = math.max(bb, math.max(gg, rr))
      if (lo < minV) minV = lo
      if (hi > maxV) maxV = hi
      i += 3
    }
    PixelStats(px.width, px.height, sumR, sumG, sumB, minV, maxV)
  }

  /** Decode an uncompressed (BI_RGB) 24-bit BMP pixel array: row stride
    * padded to 4 bytes, |height| rows (negative height = top-down;
    * positive = bottom-up, flipped here so [[Pixels]] is always top-row
    * first). Anything else (other depths, compressed, truncated) returns
    * None. */
  def decodeBmpPixels(b: Array[Byte]): Option[Pixels] = {
    if (b.length < 54 || b(0) != 'B' || b(1) != 'M') return None
    val dataOff = le32(b, 10)
    val width = le32(b, 18)
    val rawHeight = le32(b, 22)
    val height = math.abs(rawHeight)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    // abs(Int.MinValue) is still negative — reject before it poisons the
    // size math (fuzz-caught forged header)
    if (bpp != 24 || compression != 0 || width <= 0 || height <= 0) return None
    // stride/size math in LONG: 24 * a forged 0x10000000 width overflows
    // Int, yielding a tiny rowSize that slips past the bounds check and
    // drives a huge allocation from a 60-byte payload (fuzz-caught). BMP
    // is uncompressed, so requiring the full pixel array to be PRESENT
    // also bounds the rgb allocation by 3·w·h ≤ rowSize·h ≤ b.length.
    val rowSize = ((24L * width + 31) / 32) * 4
    // divide, don't multiply: rowSize·height overflows even a Long at
    // max forged dims (2^31-1 each) and a wrapped product passes a
    // direct comparison
    if (dataOff < 54 || dataOff >= b.length) return None
    if (rowSize > b.length - dataOff ||
        height.toLong > (b.length - dataOff) / rowSize) return None
    val rgb = new Array[Byte](3 * width * height)
    var fy = 0
    while (fy < height) {
      // positive height = bottom-up file rows: file row fy is image row h-1-fy
      val y = if (rawHeight > 0) height - 1 - fy else fy
      val base = (dataOff + fy * rowSize).toInt // bounds-checked above
      var x = 0
      while (x < width) {
        val o = 3 * (y * width + x)
        rgb(o) = b(base + 3 * x + 2)     // R (BMP stores BGR)
        rgb(o + 1) = b(base + 3 * x + 1) // G
        rgb(o + 2) = b(base + 3 * x)     // B
        x += 1
      }
      fy += 1
    }
    Some(Pixels(width, height, rgb))
  }

  def decodeBmp(b: Array[Byte]): Option[PixelStats] = decodeBmpPixels(b).map(statsOf)

  /** Decode an 8-bit RGB (color type 2, non-interlaced) PNG with
    * JDK-only zlib: IDAT chunks concatenate into one zlib stream
    * (`java.util.zip.Inflater`), then each scanline is reconstructed
    * from its per-row filter — None(0)/Sub(1)/Up(2)/Average(3)/Paeth(4),
    * PNG spec §9 — before the per-channel stats accumulate. Anything
    * else (palette/alpha/16-bit/interlaced, bad signature, truncated or
    * corrupt stream) returns None; JPEG/GIF remain with the documented
    * stub — their payload decode needs entropy-coding machinery beyond
    * byte math, PNG does not. */
  def decodePngPixels(b: Array[Byte]): Option[Pixels] = {
    if (b.length < 45 || !b.take(8).sameElements(PngSig)) return None
    if (be32(b, 8) != 13 || ascii(b, 12, 4) != "IHDR") return None
    val width = be32(b, 16); val height = be32(b, 20)
    val bitDepth = u8(b, 24); val colorType = u8(b, 25)
    val (compression, filterMethod, interlace) = (u8(b, 26), u8(b, 27), u8(b, 28))
    if (width <= 0 || height <= 0 || bitDepth != 8 || colorType != 2 ||
        compression != 0 || filterMethod != 0 || interlace != 0) return None
    // walk chunks, concatenating IDAT payloads (the zlib stream may be
    // split across any number of IDAT chunks, PNG spec §5.6)
    val idat = new java.io.ByteArrayOutputStream()
    var i = 33 // after IHDR
    var done = false
    while (!done) {
      if (i + 8 > b.length) return None
      val len = be32(b, i)
      val typ = ascii(b, i + 4, 4)
      // bounds math in LONG: a forged length near 2^31 would wrap
      // 'i + 12 + len' negative, slip past an Int comparison, and crash
      // idat.write instead of returning None
      if (len < 0 || i.toLong + 12L + len > b.length) return None
      if (typ == "IDAT") idat.write(b, i + 8, len)
      else if (typ == "IEND") done = true
      i += 12 + len
    }
    val bpp = 3
    val strideL = width.toLong * bpp
    // header-claimed size is ATTACKER-CONTROLLED: reject before allocating
    // anything it implies. zlib's max expansion is 1032:1, so a stream
    // shorter than rawLen/1032 can never fill the buffer — and rawLen
    // must fit an array at all (a forged IHDR of 2^31 pixels would
    // otherwise drive a negative/huge allocation; fuzz-caught).
    val rawLen = (strideL + 1L) * height
    if (rawLen > Int.MaxValue - 8 ||
        rawLen > idat.size().toLong * 1032L + 4096L) return None
    val stride = strideL.toInt
    val raw = new Array[Byte](rawLen.toInt)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    try {
      var off = 0
      while (off < raw.length && !inflater.finished()) {
        val n = inflater.inflate(raw, off, raw.length - off)
        // n == 0 while unfinished means the stream is truncated OR stalled
        // — notably FDICT (preset-dictionary) streams return 0 forever
        // with needsInput()=false, which would spin this loop for good
        if (n == 0) return None
        off += n
      }
      if (off != raw.length) return None
    } catch { case _: java.util.zip.DataFormatException => return None }
    finally inflater.end()
    val rgb = new Array[Byte](stride * height)
    val cur = new Array[Int](stride)
    val prev = new Array[Int](stride)
    var y = 0
    while (y < height) {
      val off = (stride + 1) * y
      val ft = u8(raw, off)
      if (ft > 4) return None
      var j = 0
      while (j < stride) {
        val x = u8(raw, off + 1 + j)
        val a = if (j >= bpp) cur(j - bpp) else 0
        val up = prev(j)
        val c = if (j >= bpp) prev(j - bpp) else 0
        cur(j) = ft match {
          case 0 => x
          case 1 => (x + a) & 0xff
          case 2 => (x + up) & 0xff
          case 3 => (x + ((a + up) / 2)) & 0xff
          case 4 => (x + paeth(a, up, c)) & 0xff
        }
        rgb(y * stride + j) = cur(j).toByte
        j += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    Some(Pixels(width, height, rgb))
  }

  def decodePng(b: Array[Byte]): Option[PixelStats] = decodePngPixels(b).map(statsOf)

  /** Decode the first image of a GIF87a/89a — REAL LZW decompression in
    * pure JVM code (variable-width codes, dictionary growth, clear/EOI,
    * the KwKwK case), no codec library. Pixel indices map through the
    * palette (global or per-image local) into top-row-first [[Pixels]];
    * interlaced files (GIF89a appendix E: passes at rows 0/8, 4/8, 2/4,
    * 1/2) are re-sequenced into natural row order at decode time, so
    * orientation-sensitive consumers (perceptual hashes) see the true
    * bitmap. Truncation/corruption anywhere returns None (JPEG —
    * actual entropy coding — remains the one stubbed format). Extension
    * blocks (GCE, comments, application) are walked and skipped. */
  def decodeGifPixels(b: Array[Byte]): Option[Pixels] =
    decodeGifFrames(b, maxFrames = 1).flatMap(_.headOption)

  /** Decode the images of a GIF87a/89a — the FIRST for still images
    * ([[decodeGifPixels]]), or every frame of an animated file (the
    * engine's video container): REAL LZW decompression in pure JVM code
    * (variable-width codes, dictionary growth, clear/EOI, the KwKwK
    * case), no codec library. Pixel indices map through the palette
    * (global or per-image local) into top-row-first [[Pixels]];
    * interlaced files (GIF89a appendix E: passes at rows 0/8, 4/8, 2/4,
    * 1/2) are re-sequenced into natural row order at decode time, so
    * orientation-sensitive consumers (perceptual hashes) see the true
    * bitmap. Extension blocks (GCE, comments, application) are walked
    * and skipped. When decoding an ANIMATION (maxFrames > 1) each frame
    * must be a FULL logical-screen image at (0,0) — partial-frame
    * composition/disposal is out of scope and rejected, as is any frame
    * past `maxFrames` (the per-row memory bound: total allocation ≤
    * maxFrames · 3wh, each frame's own LZW-expansion cap checked as for
    * stills); a still (maxFrames = 1) decodes its first image at the
    * image's own dimensions wherever it sits on the screen, the
    * historical [[decodeGifPixels]] contract. Truncation/corruption
    * anywhere returns None. */
  def decodeGifFrames(b: Array[Byte], maxFrames: Int = 1024): Option[Seq[Pixels]] = {
    if (b.length < 13) return None
    val sig = ascii(b, 0, 6)
    if (sig != "GIF87a" && sig != "GIF89a") return None
    val screenW = le16(b, 6); val screenH = le16(b, 8)
    val flags = u8(b, 10)
    val hasGlobal = (flags & 0x80) != 0
    val palSize = if (hasGlobal) 2 << (flags & 7) else 0
    var i = 13
    if (i + 3 * palSize > b.length) return None
    val palOff = if (hasGlobal) i else -1
    i += 3 * palSize
    val frames = scala.collection.mutable.ArrayBuffer.empty[Pixels]
    while (true) {
      if (i >= b.length) return None
      u8(b, i) match {
        case 0x21 => // extension: label + sub-blocks
          i += 2
          while (i < b.length && u8(b, i) != 0) i += 1 + u8(b, i)
          if (i >= b.length) return None
          i += 1
        case 0x2c =>
          if (frames.size >= maxFrames) return None // over the cap: fail closed
          if (i + 10 > b.length) return None
          val left = le16(b, i + 1); val top = le16(b, i + 3)
          val width = le16(b, i + 5); val height = le16(b, i + 7)
          val iflags = u8(b, i + 9)
          if (width <= 0 || height <= 0) return None
          // full-frame contract (see scaladoc) applies to ANIMATIONS
          // only: offset/partial frames would need composition state the
          // hash consumers deliberately don't carry. A still's single
          // image decodes at its own dimensions wherever it sits on the
          // logical screen (the historical decodeGifPixels behavior).
          if (maxFrames > 1 &&
              (left != 0 || top != 0 || width != screenW || height != screenH))
            return None
          i += 10
          // local color table (overrides the global one for this image)
          var pOff = palOff; var pSize = palSize
          if ((iflags & 0x80) != 0) {
            pSize = 2 << (iflags & 7)
            pOff = i; i += 3 * pSize
            if (i > b.length) return None
          }
          if (pOff < 0) return None // neither global nor local palette
          val interlaced = (iflags & 0x40) != 0
          if (i >= b.length) return None
          val minCode = u8(b, i); i += 1
          if (minCode < 2 || minCode > 8) return None
          // concatenate data sub-blocks
          val data = new java.io.ByteArrayOutputStream()
          while (i < b.length && u8(b, i) != 0) {
            val n = u8(b, i)
            if (i + 1 + n > b.length) return None
            data.write(b, i + 1, n)
            i += 1 + n
          }
          if (i >= b.length) return None
          i += 1 // the 0x00 sub-block terminator
          // header-claimed pixel count is attacker-controlled: 65535²
          // overflows Int, and LZW can expand a code to at most a
          // 4096-byte entry per ~9 input bits — cap before allocating
          val expectedL = width.toLong * height
          // bound 3·expected too: the RGB allocation is 3× the pixel
          // count, and w·h ≤ Int.MaxValue alone lets 3·w·h wrap negative
          if (expectedL > (Int.MaxValue - 8) / 3 ||
              expectedL > data.size().toLong * 4096L + 4096L) return None
          lzwDecode(data.toByteArray, minCode, expectedL.toInt) match {
            case None => return None
            case Some(px) =>
              // stream row k → image row: identity, or the 4-pass interlace
              // sequence (8/0, 8/4, 4/2, 2/1) re-woven into natural order
              val rowOf = new Array[Int](height)
              if (interlaced) {
                var k = 0
                for ((start, step) <- Seq((0, 8), (4, 8), (2, 4), (1, 2))) {
                  var y = start
                  while (y < height) { rowOf(k) = y; k += 1; y += step }
                }
              } else {
                var k = 0
                while (k < height) { rowOf(k) = k; k += 1 }
              }
              val rgb = new Array[Byte](3 * width * height)
              var j = 0
              while (j < px.length) {
                val idx = px(j) & 0xff
                if (idx >= pSize) return None
                val y = rowOf(j / width); val x = j % width
                val o = 3 * (y * width + x)
                rgb(o) = b(pOff + 3 * idx)
                rgb(o + 1) = b(pOff + 3 * idx + 1)
                rgb(o + 2) = b(pOff + 3 * idx + 2)
                j += 1
              }
              frames += Pixels(width, height, rgb)
              // single-frame callers stop at the first image and never
              // require the trailer (matches the historical contract)
              if (maxFrames == 1) return Some(frames.toSeq)
          }
        case 0x3b => // trailer
          return if (frames.nonEmpty) Some(frames.toSeq) else None
        case _ => return None
      }
    }
    None
  }

  def decodeGif(b: Array[Byte]): Option[PixelStats] = decodeGifPixels(b).map(statsOf)

  /** GIF LZW: LSB-first variable-width codes; width bumps exactly when
    * the next free code stops fitting (mirrored in MediaSynth.gif). */
  private[multimodal] def lzwDecode(data: Array[Byte], minCode: Int,
                        expected: Int): Option[Array[Byte]] = {
    val clear = 1 << minCode; val eoi = clear + 1
    var width = minCode + 1
    var next = eoi + 1
    val dict = new Array[Array[Byte]](4096)
    var c = 0
    while (c < clear) { dict(c) = Array(c.toByte); c += 1 }
    val out = new java.io.ByteArrayOutputStream(expected)
    var bitBuf = 0L; var bitCnt = 0; var pos = 0
    var prev = -1
    var done = false
    while (!done) {
      while (bitCnt < width && pos < data.length) {
        bitBuf |= (data(pos) & 0xffL) << bitCnt; bitCnt += 8; pos += 1
      }
      if (bitCnt < width) {
        // Bits exhausted before a full code. Legal-encoder edge: the
        // decoder widens one code EARLIER than the encoder (the classic
        // off-by-one), so an EOI the encoder wrote at the pre-bump width
        // can land byte-aligned with no padding left to zero-extend it.
        // If every expected pixel was already produced, the data stream
        // is complete and only the EOI is unreadable — accept; anything
        // short of the full pixel count is truncation — reject.
        return if (out.size() == expected) Some(out.toByteArray) else None
      }
      val code = (bitBuf & ((1L << width) - 1)).toInt
      bitBuf >>>= width; bitCnt -= width
      if (code == clear) {
        next = eoi + 1; width = minCode + 1; prev = -1
      } else if (code == eoi) {
        done = true
      } else {
        val entry: Array[Byte] =
          if (code < next && dict(code) != null) dict(code)
          else if (code == next && prev >= 0) dict(prev) :+ dict(prev)(0) // KwKwK
          else return None // corrupt stream
        out.write(entry, 0, entry.length)
        if (out.size() > expected) return None
        if (prev >= 0 && next < 4096) {
          dict(next) = dict(prev) :+ entry(0); next += 1
          // one EARLIER than the encoder's bump: the decoder's insert for
          // a given code happens one code later than the encoder's, so it
          // must widen at (1<<width)-1 to read the next code correctly —
          // the classic GIF decoder off-by-one
          if (next == (1 << width) - 1 && width < 12) width += 1
        }
        prev = code
      }
    }
    if (out.size() != expected) None else Some(out.toByteArray)
  }

  /** Paeth predictor (PNG spec §9.4): nearest of a/b/c to a+b-c, ties
    * broken left, above, upper-left. */
  def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Sample statistics from 16-bit PCM WAV data — the audio payload
    * decode that is pure byte math. */
  final case class PcmStats(channels: Int, sampleRate: Int, nSamples: Long,
      sumSamples: Long, minSample: Int, maxSample: Int)

  /** RIFF chunk walk shared by the PCM decoders: (channels, rate,
    * dataOff, nSamples) for a valid 16-bit PCM WAV, None otherwise. */
  private def wavLayout(b: Array[Byte]): Option[(Int, Int, Int, Int)] = {
    if (b.length < 12 || ascii(b, 0, 4) != "RIFF" || ascii(b, 8, 4) != "WAVE")
      return None
    var channels = -1; var rate = -1; var fmtOk = false
    var dataOff = -1; var dataLen = -1
    var i = 12
    while (i + 8 <= b.length) {
      val id = ascii(b, i, 4)
      val size = le32(b, i + 4)
      if (size < 0) return None
      if (id == "fmt " && i + 8 + 16 <= b.length) {
        fmtOk = le16(b, i + 8) == 1 && le16(b, i + 22) == 16 // PCM, 16-bit
        channels = le16(b, i + 10)
        rate = le32(b, i + 12)
      } else if (id == "data") {
        dataOff = i + 8; dataLen = size
      }
      i += 8 + size + (size & 1) // chunks are word-aligned
    }
    if (!fmtOk || dataOff < 0 || dataOff.toLong + dataLen > b.length) return None
    Some((channels, rate, dataOff, dataLen / 2))
  }

  /** Decode 16-bit PCM (audioFormat 1) samples from the `data` chunk,
    * walking RIFF chunks for both `fmt ` and `data` (neither assumed
    * first). Other formats/depths or truncation return None. */
  def decodeWav(b: Array[Byte]): Option[PcmStats] = wavLayout(b).map {
    case (channels, rate, dataOff, n) =>
      var sum = 0L; var minS = 32767; var maxS = -32768
      var j = 0
      while (j < n) {
        val s = (le16(b, dataOff + 2 * j) << 16) >> 16 // sign-extend
        sum += s
        if (s < minS) minS = s
        if (s > maxS) maxS = s
        j += 1
      }
      PcmStats(channels, rate, n.toLong, sum, minS, maxS)
  }

  /** Decoded 16-bit PCM payload: the interleaved sample array. */
  final case class PcmSamples(channels: Int, sampleRate: Int, samples: Array[Int])

  /** [[decodeWav]] but materializing the samples — the audio-fingerprint
    * input. The allocation is bounded by the payload itself (n ≤
    * b.length/2; WAV data must be PRESENT, like BMP pixel arrays), so no
    * forged-header amplification is possible. */
  def decodeWavSamples(b: Array[Byte]): Option[PcmSamples] = wavLayout(b).map {
    case (channels, rate, dataOff, n) =>
      val s = new Array[Int](n)
      var j = 0
      while (j < n) {
        s(j) = (le16(b, dataOff + 2 * j) << 16) >> 16 // sign-extend
        j += 1
      }
      PcmSamples(channels, rate, s)
  }

  /** Walk JPEG markers to the first SOF0/SOF2 frame header. Consecutive
    * 0xFF bytes before a marker are fill/padding (ITU T.81 B.1.1.2) and
    * are skipped; TEM (0x01) and RSTn/SOI/EOI are standalone markers
    * with no length field. Truncation anywhere returns None (stub
    * fallback) rather than reading past the array. */
  private def sniffJpeg(b: Array[Byte]): Option[MediaMeta] = {
    var i = 2
    while (i + 1 < b.length && u8(b, i) == 0xff) {
      // skip 0xFF fill bytes: the marker code is the first non-FF byte
      while (i + 1 < b.length && u8(b, i + 1) == 0xff) i += 1
      if (i + 1 >= b.length) return None
      val marker = u8(b, i + 1)
      if (marker == 0xc0 || marker == 0xc2) {
        if (i + 10 > b.length) return None // channels byte is at i+9
        return Some(MediaMeta("jpeg", be16(b, i + 7), be16(b, i + 5),
          channels = u8(b, i + 9), sampleRate = 0, bitDepth = u8(b, i + 4)))
      }
      if (marker == 0x01 || (marker >= 0xd0 && marker <= 0xd9)) i += 2
      else {
        if (i + 4 > b.length) return None
        i += 2 + be16(b, i + 2)
      }
    }
    None
  }
}
