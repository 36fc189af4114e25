package graft.multimodal

import java.io.ByteArrayOutputStream

/** Deterministic media-file generators: byte-valid BMP (24-bit BI_RGB,
  * incl. padded strides and top-down negative-height variants), WAV
  * (16-bit PCM, chunk order exercised with a leading JUNK chunk), and
  * PNG (8-bit RGB, zlib-deflated, row filter cycling through all five
  * spec types) whose pixel/sample values follow closed-form formulas of
  * (id, x, y) / (id, j) — so an independent oracle can recompute the
  * decoded statistics from the formulas alone, without parsing a byte.
  * Used by the q58/q58b end-to-end payload-decode oracles and the codec
  * specs.
  */
object MediaSynth {

  private def le16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
  }
  private def le32(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write(v & 0xff); out.write((v >> 8) & 0xff)
    out.write((v >> 16) & 0xff); out.write((v >> 24) & 0xff)
  }

  /** Pixel formulas (one per channel) — mirrored in the q58 oracle SQL. */
  def red(id: Long, x: Int, y: Int): Int = ((id * 13 + 5 * x + y) % 256).toInt
  def green(id: Long, x: Int, y: Int): Int = ((id * 11 + x + 2 * y) % 256).toInt
  def blue(id: Long, x: Int, y: Int): Int = ((id * 7 + 3 * x + 5 * y) % 256).toInt

  def bmpWidth(id: Long): Int = (4 + id % 5).toInt
  def bmpHeight(id: Long): Int = (3 + id % 4).toInt

  /** 24-bit uncompressed BMP from per-channel pixel functions of (x, y);
    * `topDown` stores a negative height (rows in natural order) vs the
    * default bottom-up layout (file rows written y=0.. are the BOTTOM of
    * the image, i.e. image row h-1-y — decoders must flip). */
  def bmpOf(w: Int, h: Int, topDown: Boolean,
            r: (Int, Int) => Int, g: (Int, Int) => Int,
            b: (Int, Int) => Int): Array[Byte] = {
    val rowSize = ((24 * w + 31) / 32) * 4
    val dataSize = rowSize * h
    val out = new ByteArrayOutputStream()
    out.write('B'); out.write('M')
    le32(out, 54 + dataSize); le32(out, 0); le32(out, 54) // file header
    le32(out, 40); le32(out, w)
    le32(out, if (topDown) -h else h)                     // BITMAPINFOHEADER
    le16(out, 1); le16(out, 24); le32(out, 0); le32(out, dataSize)
    le32(out, 2835); le32(out, 2835); le32(out, 0); le32(out, 0)
    var fy = 0
    while (fy < h) {
      // image row this FILE row holds: bottom-up files store row h-1-fy
      val y = if (topDown) fy else h - 1 - fy
      var x = 0
      while (x < w) {
        out.write(b(x, y)); out.write(g(x, y)); out.write(r(x, y))
        x += 1
      }
      var pad = rowSize - 3 * w
      while (pad > 0) { out.write(0); pad -= 1 }
      fy += 1
    }
    out.toByteArray
  }

  /** 24-bit uncompressed BMP; every 10th id stores a negative (top-down)
    * height. Stride padding varies with width (4..8 → 0..3 pad bytes).
    * NOTE the historical quirk kept for the q58 oracle: file rows follow
    * the formula's y order REGARDLESS of orientation, so for bottom-up
    * ids the on-screen image is the formula flipped — stats-invariant
    * (which is all q58 checks), and [[nearDupImage]] uses the
    * orientation-correct [[bmpOf]] instead. */
  def bmp(id: Long): Array[Byte] = {
    val w = bmpWidth(id); val h = bmpHeight(id)
    val topDown = id % 10 == 0
    // formula y = file row order (quirk above): for bottom-up files hand
    // bmpOf a flipped pixel fn so the emitted BYTES are unchanged
    def fy(y: Int): Int = if (topDown) y else h - 1 - y
    bmpOf(w, h, topDown,
      (x, y) => red(id, x, fy(y)), (x, y) => green(id, x, fy(y)),
      (x, y) => blue(id, x, fy(y)))
  }

  /** Sample formula — mirrored in the q58 oracle SQL. */
  def sample(id: Long, j: Int): Int = (((id * 31 + j * 17) % 65536) - 32768).toInt

  def wavChannels(id: Long): Int = (1 + id % 2).toInt
  def wavRate(id: Long): Int = (8000 + id % 1000).toInt
  def wavSamples(id: Long): Int = ((50 + id % 60) * wavChannels(id)).toInt

  /** 16-bit PCM WAV with a JUNK chunk before `fmt ` (chunk-walk path). */
  def wav(id: Long): Array[Byte] =
    wavOf(wavChannels(id), wavRate(id), wavSamples(id), j => sample(id, j))

  /** The same chunk-walking WAV writer over an arbitrary sample function
    * of the interleaved sample index. */
  def wavOf(ch: Int, rate: Int, n: Int, s: Int => Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("RIFF".getBytes("US-ASCII")); le32(out, 4 + 12 + 24 + 8 + 2 * n)
    out.write("WAVE".getBytes("US-ASCII"))
    out.write("JUNK".getBytes("US-ASCII")); le32(out, 4); le32(out, 0)
    out.write("fmt ".getBytes("US-ASCII")); le32(out, 16)
    le16(out, 1); le16(out, ch); le32(out, rate)
    le32(out, rate * ch * 2); le16(out, ch * 2); le16(out, 16)
    out.write("data".getBytes("US-ASCII")); le32(out, 2 * n)
    var j = 0
    while (j < n) { le16(out, s(j) & 0xffff); j += 1 }
    out.toByteArray
  }

  /** Even ids are BMPs, odd ids are WAVs. */
  def payload(id: Long): Array[Byte] = if (id % 2 == 0) bmp(id) else wav(id)

  def pngWidth(id: Long): Int = (4 + id % 6).toInt
  def pngHeight(id: Long): Int = (5 + id % 5).toInt // ≥5 rows: filters 0-4 all appear

  /** Standard-conforming PNG: 8-bit RGB (color type 2), zlib-deflated
    * scanlines, row `y` filtered with type `y % 5` — so a decoder must
    * implement ALL FIVE filters (None/Sub/Up/Average/Paeth) correctly to
    * reproduce the closed-form pixel values. Same channel formulas as
    * [[bmp]]; dimensions differ so a mixed corpus distinguishes them. */
  def png(id: Long): Array[Byte] =
    pngOf(pngWidth(id), pngHeight(id),
      (x, y) => red(id, x, y), (x, y) => green(id, x, y), (x, y) => blue(id, x, y))

  /** The same standard-conforming PNG writer over arbitrary per-channel
    * pixel functions of (x, y). */
  def pngOf(w: Int, h: Int, r: (Int, Int) => Int, g: (Int, Int) => Int,
            b: (Int, Int) => Int): Array[Byte] = {
    val bpp = 3; val stride = w * bpp
    val raw = new Array[Byte]((stride + 1) * h)
    val cur = new Array[Int](stride)
    val prev = new Array[Int](stride) // all-zero virtual row above y=0, per spec
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        cur(3 * x) = r(x, y); cur(3 * x + 1) = g(x, y)
        cur(3 * x + 2) = b(x, y)
        x += 1
      }
      val ft = y % 5
      val off = (stride + 1) * y
      raw(off) = ft.toByte
      var i = 0
      while (i < stride) {
        val v = cur(i)
        val a = if (i >= bpp) cur(i - bpp) else 0
        val b = prev(i)
        val c = if (i >= bpp) prev(i - bpp) else 0
        val enc = ft match {
          case 0 => v
          case 1 => v - a
          case 2 => v - b
          case 3 => v - ((a + b) / 2)
          case 4 => v - HeaderCodec.paeth(a, b, c)
        }
        raw(off + 1 + i) = (enc & 0xff).toByte
        i += 1
      }
      System.arraycopy(cur, 0, prev, 0, stride)
      y += 1
    }
    val deflater = new java.util.zip.Deflater()
    deflater.setInput(raw); deflater.finish()
    val zbuf = new Array[Byte](raw.length + 64)
    val zlen = deflater.deflate(zbuf)
    deflater.end()
    val out = new ByteArrayOutputStream()
    out.write(Array(0x89, 0x50, 0x4e, 0x47, 0x0d, 0x0a, 0x1a, 0x0a).map(_.toByte))
    def be32(v: Int): Array[Byte] =
      Array((v >> 24).toByte, (v >> 16).toByte, (v >> 8).toByte, v.toByte)
    def chunk(typ: String, data: Array[Byte]): Unit = {
      out.write(be32(data.length))
      val tb = typ.getBytes("US-ASCII")
      val crc = new java.util.zip.CRC32()
      crc.update(tb); crc.update(data)
      out.write(tb); out.write(data); out.write(be32(crc.getValue.toInt))
    }
    chunk("IHDR", be32(w) ++ be32(h) ++ Array[Byte](8, 2, 0, 0, 0))
    chunk("IDAT", zbuf.take(zlen))
    chunk("IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** GIF palette/index formulas — mirrored in the q58c oracle SQL. The
    * pixel at (x, y) is palette entry `gifIndex`, whose RGB comes from
    * the pal* formulas, so decoded stats are closed-form in (id, x, y). */
  def gifIndex(id: Long, x: Int, y: Int): Int = ((id * 5 + 7 * x + 11 * y) % 256).toInt
  def palR(id: Long, i: Int): Int = ((id * 3 + 5 * i) % 256).toInt
  def palG(id: Long, i: Int): Int = ((id * 7 + 3 * i) % 256).toInt
  def palB(id: Long, i: Int): Int = ((id * 11 + 9 * i) % 256).toInt

  def gifWidth(id: Long): Int = (14 + id % 10).toInt
  // most size classes exceed ~255 pixels, where dictionary growth pushes
  // the LZW code width past 9 bits (the smallest, e.g. 14×12, stay at 9 —
  // so the corpus covers both regimes)
  def gifHeight(id: Long): Int = (12 + id % 8).toInt

  /** Standard-conforming GIF89a: 256-entry global color table from the
    * pal* formulas, one non-interlaced image whose indices follow
    * [[gifIndex]], REAL variable-width LZW compression (clear code,
    * dictionary growth, code-width bumps — the low-repetition index
    * pattern pushes past 9-bit codes on every file). javax.imageio
    * decodes these byte-identically (HeaderCodecSpec cross-checks). */
  def gif(id: Long): Array[Byte] =
    gifOf(gifWidth(id), gifHeight(id),
      (x, y) => gifIndex(id, x, y),
      i => palR(id, i), i => palG(id, i), i => palB(id, i))

  /** The same standard-conforming GIF89a writer over an arbitrary index
    * function of (x, y) and palette functions of the entry index. */
  def gifOf(w: Int, h: Int, index: (Int, Int) => Int,
            pR: Int => Int, pG: Int => Int, pB: Int => Int): Array[Byte] =
    gifAnimOf(w, h, 1, (_, x, y) => index(x, y), pR, pG, pB)

  /** Animated GIF89a — the engine's "video" container: `nFrames` full
    * logical-screen frames, each its own image descriptor + REAL LZW
    * stream over `index(f, x, y)`, preceded by a Graphic Control
    * Extension (delay 4/100 s — also exercises the decoder's extension
    * walk between frames). One global 256-entry palette; NETSCAPE loop
    * extension after it (standard animation shape). */
  def gifAnimOf(w: Int, h: Int, nFrames: Int, index: (Int, Int, Int) => Int,
                pR: Int => Int, pG: Int => Int, pB: Int => Int): Array[Byte] = {
    val out = new ByteArrayOutputStream()
    out.write("GIF89a".getBytes("US-ASCII"))
    le16(out, w); le16(out, h)
    out.write(0xf7) // global table, 8-bit color resolution, 256 entries
    out.write(0); out.write(0) // background index, aspect
    var i = 0
    while (i < 256) {
      out.write(pR(i)); out.write(pG(i)); out.write(pB(i))
      i += 1
    }
    if (nFrames > 1) { // NETSCAPE2.0 application extension: loop forever
      out.write(0x21); out.write(0xff); out.write(11)
      out.write("NETSCAPE2.0".getBytes("US-ASCII"))
      out.write(3); out.write(1); le16(out, 0); out.write(0)
    }
    var f = 0
    while (f < nFrames) {
      if (nFrames > 1) { // GCE: no disposal flags, 4/100 s delay
        out.write(0x21); out.write(0xf9); out.write(4)
        out.write(0); le16(out, 4); out.write(0); out.write(0)
      }
      out.write(0x2c) // image descriptor
      le16(out, 0); le16(out, 0); le16(out, w); le16(out, h)
      out.write(0) // no local table, not interlaced
      val ff = f
      writeLzwImage(out, w, h, (x, y) => index(ff, x, y))
      f += 1
    }
    out.write(0x3b) // trailer
    out.toByteArray
  }

  /** Min-code byte + LZW-compressed index stream + sub-blocks +
    * terminator for one image (shared by the still and animated
    * writers). */
  private def writeLzwImage(out: ByteArrayOutputStream, w: Int, h: Int,
                            index: (Int, Int) => Int): Unit = {
    val minCode = 8
    out.write(minCode)

    // GIF LZW: emit codes LSB-first at the current width; the dictionary
    // adds (prefix, byte) after each emit and the width bumps exactly
    // when the next free code no longer fits — mirrored in decodeGif.
    val clear = 1 << minCode; val eoi = clear + 1
    var width = minCode + 1
    var next = eoi + 1
    val dict = new java.util.HashMap[Long, Integer]()
    val codes = new ByteArrayOutputStream()
    var bitBuf = 0L; var bitCnt = 0
    def emit(code: Int): Unit = {
      bitBuf |= code.toLong << bitCnt; bitCnt += width
      while (bitCnt >= 8) { codes.write((bitBuf & 0xff).toInt); bitBuf >>>= 8; bitCnt -= 8 }
    }
    emit(clear)
    var cur = index(0, 0)
    var p = 1
    val total = w * h
    while (p < total) {
      val k = index(p % w, p / w)
      val key = cur.toLong << 12 | k
      val hit = dict.get(key)
      if (hit != null) cur = hit.intValue()
      else {
        emit(cur)
        if (next < 4096) {
          dict.put(key, next); next += 1
          if (next == (1 << width) && width < 12) width += 1
        } else { // table full: clear and restart (not reached by these sizes)
          emit(clear); dict.clear(); next = eoi + 1; width = minCode + 1
        }
        cur = k
      }
      p += 1
    }
    emit(cur); emit(eoi)
    if (bitCnt > 0) codes.write((bitBuf & 0xff).toInt)
    val data = codes.toByteArray
    var off = 0
    while (off < data.length) { // sub-blocks of at most 255 bytes
      val n = math.min(255, data.length - off)
      out.write(n); out.write(data, off, n)
      off += n
    }
    out.write(0) // block terminator
  }

  // ---- baseline JPEG corpus (q58d): REAL ITU T.81 baseline files whose
  // DECODED pixels are still closed-form. The trick: every 8×8 block is a
  // CONSTANT gray value, so the FDCT is DC-only (F00 = 8·(v-128), exact
  // integers), the quant table is all-ones (lossless for DC), and the
  // IDCT of a DC-only block is the constant F00/8 + 128 = v again —
  // byte-exact through any correct decoder. Chroma components carry the
  // neutral 128 (DC 0), so YCbCr→RGB returns r=g=b=Y exactly regardless
  // of rounding convention. Three variants exercise the decoder paths:
  // grayscale (1 component), 4:4:4 color, and 4:2:0 subsampled color
  // with DRI/RSTn restart markers.

  /** Per-block gray formula — mirrored in the q58d oracle SQL. */
  def jpegBlockGray(id: Long, bx: Int, by: Int): Int =
    ((id * 37 + 11 * bx + 23 * by + 3 * bx * by) % 256).toInt

  def jpegWidth(id: Long): Int = ((id % 3) match {
    case 0 => 8 * (2 + id % 5)
    case 1 => 8 * (2 + id % 4)
    case _ => 16 * (1 + id % 3)
  }).toInt

  def jpegHeight(id: Long): Int = ((id % 3) match {
    case 0 => 8 * (2 + id % 4)
    case 1 => 8 * (2 + id % 3)
    case _ => 16 * (1 + id % 2)
  }).toInt

  /** MSB-first JPEG bit emitter with 0xFF00 stuffing. */
  private final class JpegBits(out: ByteArrayOutputStream) {
    private var buf = 0; private var cnt = 0
    def put(bits: Int, n: Int): Unit = {
      var i = n - 1
      while (i >= 0) {
        buf = (buf << 1) | ((bits >> i) & 1); cnt += 1
        if (cnt == 8) {
          out.write(buf & 0xff)
          if ((buf & 0xff) == 0xff) out.write(0) // byte stuffing
          buf = 0; cnt = 0
        }
        i -= 1
      }
    }
    /** Pad to a byte boundary with 1-bits (T.81 F.1.2.3). */
    def align(): Unit = while (cnt != 0) put(1, 1)
    /** A DC (or lossless) difference under the generators' DC tables:
      * category s as its canonical 4-bit code s, then s magnitude bits. */
    def putDc(diff: Int): Unit = {
      val s = if (diff == 0) 0 else 32 - Integer.numberOfLeadingZeros(math.abs(diff))
      put(s, 4)
      if (s > 0) put(if (diff > 0) diff else diff + (1 << s) - 1, s)
    }
  }

  // ---- JPEG segment writers (T.81 B.2) shared by every generator below.
  // The generators code everything with table 0 (Tq = Td = Ta = 0).

  private def be16(out: ByteArrayOutputStream, v: Int): Unit = {
    out.write((v >> 8) & 0xff); out.write(v & 0xff)
  }

  /** A marker without a segment: SOI, EOI, RSTn. */
  private def mark(out: ByteArrayOutputStream, m: Int): Unit = {
    out.write(0xff); out.write(m)
  }

  /** APP0 JFIF 1.01 header: 1:1 pixel aspect, no thumbnail. */
  private def app0Jfif(out: ByteArrayOutputStream): Unit = {
    mark(out, 0xe0)
    be16(out, 16); out.write("JFIF".getBytes("US-ASCII")); out.write(0)
    out.write(1); out.write(1); out.write(0); be16(out, 1); be16(out, 1)
    out.write(0); out.write(0)
  }

  /** DQT of 8-bit table 0: q(0) = `q0`, every other entry 1. */
  private def dqt(out: ByteArrayOutputStream, q0: Int): Unit = {
    mark(out, 0xdb); be16(out, 67); out.write(0x00)
    out.write(q0); (1 until 64).foreach(_ => out.write(1))
  }

  /** DHT of table 0 in class `tc` (0 DC, 1 AC): one code of `len` bits
    * for each symbol in `vals`. */
  private def dht(out: ByteArrayOutputStream, tc: Int, len: Int,
      vals: Seq[Int]): Unit = {
    mark(out, 0xc4); be16(out, 2 + 17 + vals.length); out.write(tc << 4)
    (1 to 16).foreach(l => out.write(if (l == len) vals.length else 0))
    vals.foreach(out.write)
  }

  /** DC table 0: 4-bit codes for categories 0 until n (code = category). */
  private def dcTable(out: ByteArrayOutputStream, n: Int): Unit =
    dht(out, 0, 4, 0 until n)

  /** AC table 0 with a single 2-bit EOB code. */
  private def eobTable(out: ByteArrayOutputStream): Unit = dht(out, 1, 2, Seq(0))

  /** AC table 0 of EOBn symbols (r<<4 for r = 0..14), code r in 4 bits. */
  private def eobRunTable(out: ByteArrayOutputStream): Unit =
    dht(out, 1, 4, (0 until 15).map(_ << 4))

  /** Frame header (SOFn, or DHP — same syntax): components 1..nc on
    * quant table 0, all 1x1 sampled except component 1 at `yHv`. */
  private def frameHeader(out: ByteArrayOutputStream, m: Int, precision: Int,
      w: Int, h: Int, nc: Int, yHv: Int = 0x11): Unit = {
    mark(out, m)
    be16(out, 8 + 3 * nc); out.write(precision); be16(out, h); be16(out, w); out.write(nc)
    (1 to nc).foreach { c =>
      out.write(c); out.write(if (c == 1) yHv else 0x11); out.write(0)
    }
  }

  /** Scan header over components `comps`. */
  private def scanHeader(out: ByteArrayOutputStream, comps: Seq[Int], ss: Int,
      se: Int, ah: Int, al: Int): Unit = {
    mark(out, 0xda)
    be16(out, 6 + 2 * comps.length); out.write(comps.length)
    comps.foreach { c => out.write(c); out.write(0x00) }
    out.write(ss); out.write(se); out.write((ah << 4) | al)
  }

  /** DRI: a restart marker every `n` MCUs. */
  private def restartInterval(out: ByteArrayOutputStream, n: Int): Unit = {
    mark(out, 0xdd); be16(out, 4); be16(out, n)
  }

  /** DAC: DC table 0 conditioned on L = 0, U = `dcU`; AC table 0 on Kx. */
  private def dac(out: ByteArrayOutputStream, dcU: Int, acKx: Int): Unit = {
    mark(out, 0xcc); be16(out, 2 + 4)
    out.write(0x00); out.write(dcU << 4)
    out.write(0x10); out.write(acKx)
  }

  /** EXP: double the references in both dimensions. */
  private def expandBoth(out: ByteArrayOutputStream): Unit = {
    mark(out, 0xdf); be16(out, 3); out.write(0x11)
  }

  /** One baseline JPEG of constant 8×8 blocks. Custom canonical Huffman
    * tables (DC: twelve 4-bit codes for categories 0–11; AC: a single
    * 2-bit EOB), all-ones quant table, single interleaved scan. */
  def jpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val subsampled = variant == 2
    val nc = if (variant == 0) 1 else 3
    val dri = if (subsampled) 2 else 0
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    app0Jfif(out)
    dqt(out, 1) // all ones
    frameHeader(out, 0xc0, 8, w, h, nc, if (subsampled) 0x22 else 0x11) // SOF0
    dcTable(out, 12)
    eobTable(out)
    if (dri > 0) restartInterval(out, dri)
    scanHeader(out, 1 to nc, 0, 63, 0, 0)

    val bits = new JpegBits(out)
    // canonical codes from the tables above: DC category t ↦ code t in 4
    // bits; EOB ↦ '00'
    def putBlock(dc: Int, pred: Int): Int = { bits.putDc(dc - pred); bits.put(0, 2); dc }

    val hMax = if (subsampled) 2 else 1
    val mcusX = w / (8 * hMax); val mcusY = h / (8 * hMax)
    var predY = 0; var predCb = 0; var predCr = 0
    var rst = 0
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        bits.align()
        mark(out, 0xd0 + rst % 8); rst += 1
        predY = 0; predCb = 0; predCr = 0
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      if (!subsampled) {
        predY = putBlock(8 * (jpegBlockGray(id, mx, my) - 128), predY)
        if (nc == 3) {
          predCb = putBlock(0, predCb)
          predCr = putBlock(0, predCr)
        }
      } else {
        var by = 0
        while (by < 2) {
          var bx = 0
          while (bx < 2) {
            predY = putBlock(
              8 * (jpegBlockGray(id, mx * 2 + bx, my * 2 + by) - 128), predY)
            bx += 1
          }
          by += 1
        }
        predCb = putBlock(0, predCb)
        predCr = putBlock(0, predCr)
      }
      mcu += 1
    }
    bits.align()
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  // ---- progressive JPEG corpus (q58e): REAL ITU T.81 progressive (SOF2)
  // files with the same closed-form constant-block pixels as q58d. The
  // successive-approximation trick: quant table has q(0)=8, so the
  // quantized DC is exactly (v-128) — ODD for odd v — and splitting it as
  // a DC-first scan at Al=1 plus a DC-refinement scan at Al=0 exercises
  // both passes with nonzero refinement bits while staying byte-exact
  // (decoder reassembles (sv<<1)|bit0 = v-128, dequantizes by 8, IDCT
  // returns v). All AC coefficients are zero, so the AC band scans are
  // pure EOB-run streams (chunked to cover EOBn categories r=0..3), and
  // the AC refinement scans exercise the eobrun-refinement path with no
  // correction bits. Variants mirror q58d: grayscale (non-interleaved DC
  // scans), 4:4:4, and 4:2:0 with DRI/RSTn inside every scan.

  /** One progressive JPEG of constant 8×8 blocks (same dims/gray formula
    * as [[jpeg]]). Scan script: DC-first Al=1 (all components) → AC-first
    * Al=1 band scans (Y split 1–5 / 6–63; chroma 1–63) → DC-refine Al=0 →
    * AC-refine Al=0 over the same bands. */
  def progressiveJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val subsampled = variant == 2
    val nc = if (variant == 0) 1 else 3
    val dri = if (subsampled) 2 else 0
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    app0Jfif(out)
    dqt(out, 8) // q(0)=8, rest ones
    frameHeader(out, 0xc2, 8, w, h, nc, if (subsampled) 0x22 else 0x11) // SOF2
    dcTable(out, 12)
    eobRunTable(out)
    if (dri > 0) restartInterval(out, dri)

    val mcusX = w / (8 * (if (subsampled) 2 else 1))
    val mcusY = h / (8 * (if (subsampled) 2 else 1))
    // quantized DC of the Y block at (bx, by): v - 128 with q(0)=8
    def dcOf(bx: Int, by: Int): Int = jpegBlockGray(id, bx, by) - 128
    // Y blocks in interleaved order (the DC scans' walk); grayscale is
    // non-interleaved but its walk coincides (1x1 factors, exact dims)
    def yBlocksInterleaved: Seq[(Int, Int)] =
      if (!subsampled) for (my <- 0 until mcusY; mx <- 0 until mcusX) yield (mx, my)
      else for (my <- 0 until mcusY; mx <- 0 until mcusX;
                by <- 0 until 2; bx <- 0 until 2) yield (mx * 2 + bx, my * 2 + by)

    var rst = 0
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): JpegBits = {
      rst = 0 // RSTn numbering restarts at RST0 in every scan (T.81 E.1.2)
      scanHeader(out, comps, ss, se, ah, al)
      new JpegBits(out)
    }
    def restartMark(bits: JpegBits): Unit = {
      bits.align()
      mark(out, 0xd0 + rst % 8); rst += 1
    }

    // ---- scan 1: DC first, Ah=0 Al=1, all components interleaved.
    // Values are the quantized DCs arithmetic-shifted right by 1; chroma
    // DCs are 0. Categories fit the 12-entry DC table.
    locally {
      val bits = sos(1 to nc, 0, 0, 0, 1)
      var predY = 0; var predCb = 0; var predCr = 0
      var mcu = 0
      val yPerMcu = if (subsampled) 4 else 1
      val blocks = yBlocksInterleaved
      while (mcu < mcusX * mcusY) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          restartMark(bits); predY = 0; predCb = 0; predCr = 0
        }
        var k = 0
        while (k < yPerMcu) {
          val (bx, by) = blocks(mcu * yPerMcu + k)
          val sv = dcOf(bx, by) >> 1 // point transform: arithmetic >> Al
          bits.putDc(sv - predY); predY = sv
          k += 1
        }
        if (nc == 3) {
          bits.putDc(0 - predCb); predCb = 0
          bits.putDc(0 - predCr); predCr = 0
        }
        mcu += 1
      }
      bits.align()
    }

    // ---- AC band scans: every coefficient is zero, so each restart
    // interval is covered by EOB runs, chunked to exercise EOBn r=0..3
    // and the extension-bit path. Used for both the Al=1 first pass and
    // the Al=0 refinement pass (which then carries no correction bits).
    def acScan(comp: Int, blocks: Int, ss: Int, se: Int, ah: Int, al: Int): Unit = {
      val bits = sos(Seq(comp), ss, se, ah, al)
      val chunks = Array(1, 2, 3, 6, 11, 32767)
      var chunkAt = 0
      def emitRun(n: Int): Unit = {
        val r = 31 - Integer.numberOfLeadingZeros(n)
        bits.put(r, 4) // canonical code for symbol (r<<4) is the value r
        if (r > 0) bits.put(n - (1 << r), r)
      }
      var blk = 0
      while (blk < blocks) {
        if (dri > 0 && blk > 0 && blk % dri == 0) restartMark(bits)
        val limit = if (dri > 0) math.min(blocks, blk + dri) else blocks
        var run = limit - blk
        while (run > 0) {
          val n = math.min(run, chunks(chunkAt % chunks.length))
          emitRun(n); chunkAt += 1
          run -= n; blk += n
        }
      }
      bits.align()
    }
    val yBlocks = (w / 8) * (h / 8)
    val cBlocks = if (subsampled) (w / 16) * (h / 16) else yBlocks

    // scans 2..: AC first pass at Al=1 (Y split into two bands)
    acScan(1, yBlocks, 1, 5, 0, 1)
    acScan(1, yBlocks, 6, 63, 0, 1)
    if (nc == 3) { acScan(2, cBlocks, 1, 63, 0, 1); acScan(3, cBlocks, 1, 63, 0, 1) }

    // ---- DC refinement, Ah=1 Al=0: one raw bit per block — bit 0 of the
    // two's-complement quantized DC (nonzero for odd gray values)
    locally {
      val bits = sos(1 to nc, 0, 0, 1, 0)
      val yPerMcu = if (subsampled) 4 else 1
      val blocks = yBlocksInterleaved
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) restartMark(bits)
        var k = 0
        while (k < yPerMcu) {
          val (bx, by) = blocks(mcu * yPerMcu + k)
          bits.put(dcOf(bx, by) & 1, 1)
          k += 1
        }
        if (nc == 3) { bits.put(0, 1); bits.put(0, 1) }
        mcu += 1
      }
      bits.align()
    }

    // scans ..n: AC refinement at Al=0 over the same bands (EOB runs only)
    acScan(1, yBlocks, 1, 5, 1, 0)
    acScan(1, yBlocks, 6, 63, 1, 0)
    if (nc == 3) { acScan(2, cBlocks, 1, 63, 1, 0); acScan(3, cBlocks, 1, 63, 1, 0) }

    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  // ---- lossless JPEG corpus (q58f): REAL ITU T.81 lossless (SOF3,
  // process 14) files. No DCT and no quantization, so ANY per-pixel
  // formula survives byte-exact and the dimensions are deliberately NOT
  // block multiples (the block-padding rules do not exist in lossless).
  // predictor = 1 + id % 7 covers all seven T.81 H.1 predictors across
  // the corpus; the first-sample / first-line / first-column boundary
  // rules are exercised by every file.

  /** Per-pixel gray formula — mirrored in the q58f oracle SQL. */
  def losslessGray(id: Long, x: Int, y: Int): Int =
    ((id * 37 + 11 * x + 23 * y + 3L * x * y) % 256).toInt
  def losslessWidth(id: Long): Int = (13 + id % 9).toInt
  def losslessHeight(id: Long): Int = (11 + id % 7).toInt

  /** One lossless JPEG: grayscale 8-bit, one scan, predictor 1+id%7,
    * point transform 0. DC-class Huffman table of ten 4-bit codes for
    * difference categories 0–9 (predictor 4 can predict in [-255, 510],
    * so |diff| ≤ 510 ⇒ SSSS ≤ 9). */
  def losslessJpeg(id: Long): Array[Byte] = {
    val w = losslessWidth(id); val h = losslessHeight(id)
    val pred = (1 + id % 7).toInt
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    frameHeader(out, 0xc3, 8, w, h, 1) // SOF3 lossless
    dcTable(out, 10)
    scanHeader(out, Seq(1), pred, 0, 0, 0) // Ss = predictor

    val bits = new JpegBits(out)
    // prediction over RECONSTRUCTED (= exact, lossless) neighbors with the
    // T.81 H.1 boundary rules; must mirror JpegCodec's decode-side walk
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        val px =
          if (x == 0 && y == 0) 128
          else if (y == 0) losslessGray(id, x - 1, 0)
          else if (x == 0) losslessGray(id, 0, y - 1)
          else {
            val ra = losslessGray(id, x - 1, y)
            val rb = losslessGray(id, x, y - 1)
            val rc = losslessGray(id, x - 1, y - 1)
            pred match {
              case 1 => ra
              case 2 => rb
              case 3 => rc
              case 4 => ra + rb - rc
              case 5 => ra + ((rb - rc) >> 1)
              case 6 => rb + ((ra - rc) >> 1)
              case _ => (ra + rb) >> 1
            }
          }
        bits.putDc(losslessGray(id, x, y) - px)
        x += 1
      }
      y += 1
    }
    bits.align()
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** 12-bit block value for the SOF1 corpus, in [0, 4095]. */
  def jpeg12Block(id: Long, bx: Int, by: Int): Int =
    ((id * 151 + 29 * bx + 17 * by + 5 * bx * by) % 4096).toInt

  /** One 12-bit extended-sequential JPEG (SOF1, T.81 table 1): grayscale
    * DC-only constant blocks at precision 12 — all-ones quant, level
    * shift 2048, DC table of SIXTEEN 4-bit category codes (12-bit DC
    * differences reach category 15), single EOB AC code. The decoder
    * emits the top 8 bits of each 12-bit sample, so the oracle is
    * jpeg12Block >> 4. */
  def jpeg12(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    dqt(out, 1) // all ones
    frameHeader(out, 0xc1, 12, w, h, 1) // SOF1 extended sequential, 12-bit
    dcTable(out, 16)
    eobTable(out)
    scanHeader(out, Seq(1), 0, 63, 0, 0)

    val bits = new JpegBits(out)
    val bw = w / 8; val bh = h / 8
    var pred = 0
    var mcu = 0
    while (mcu < bw * bh) {
      val bx = mcu % bw; val by = mcu / bw
      val dc = 8 * (jpeg12Block(id, bx, by) - 2048)
      bits.putDc(dc - pred); pred = dc
      bits.put(0, 2) // EOB
      mcu += 1
    }
    bits.align()
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** One 12-bit COLOR extended-sequential JPEG (SOF1, 3 components,
    * 4:4:4): Y = constant [[jpeg12Block]] blocks at precision 12,
    * chroma constant neutral (sample 2048 → shifted DC 0), all-ones
    * quant, interleaved scan with per-component DC predictors. The
    * decoder runs YCbCr→RGB in the 12-bit domain then emits top-8
    * bits; with neutral chroma r=g=b = jpeg12Block >> 4, so the q58j
    * oracle formula carries over. JpegCodecSpec additionally pins
    * NON-neutral chroma via [[jpeg12ColorOf]] (the corpus keeps the
    * closed-form gray oracle; the spec pins the color arithmetic). */
  def jpeg12Color(id: Long): Array[Byte] = jpeg12ColorOf(id, 2048, 2048)

  /** [[jpeg12Color]] with explicit constant chroma samples. */
  private[multimodal] def jpeg12ColorOf(id: Long, cbSample: Int,
      crSample: Int): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    dqt(out, 1) // all ones
    frameHeader(out, 0xc1, 12, w, h, 3) // SOF1 extended sequential, 12-bit
    dcTable(out, 16)
    eobTable(out)
    scanHeader(out, 1 to 3, 0, 63, 0, 0) // 3 components interleaved

    val bits = new JpegBits(out)
    val bw = w / 8; val bh = h / 8
    val pred = Array(0, 0, 0)
    var mcu = 0
    while (mcu < bw * bh) {
      val bx = mcu % bw; val by = mcu / bw
      var ci = 0
      while (ci < 3) {
        val dc = ci match {
          case 0 => 8 * (jpeg12Block(id, bx, by) - 2048)
          case 1 => 8 * (cbSample - 2048)
          case _ => 8 * (crSample - 2048)
        }
        bits.putDc(dc - pred(ci)); pred(ci) = dc
        bits.put(0, 2) // EOB
        ci += 1
      }
      mcu += 1
    }
    bits.align()
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** Chroma-red plane for the color-lossless corpus: a gentle ±4 ripple
    * around neutral so every channel exercises its own predictor chain
    * while the YCbCr→RGB outputs stay clamped-free and closed-form. */
  def losslessCr(id: Long, x: Int, y: Int): Int =
    (124 + (id + 3 * x + y) % 9).toInt

  /** One 3-component INTERLEAVED lossless JPEG (T.81 H.2 MCUs: one
    * sample per component at each raster position, all 1x1 sampling):
    * Y = [[losslessGray]], Cb = 128 constant, Cr = [[losslessCr]].
    * Same predictor sweep and Huffman table as [[losslessJpeg]]; each
    * component predicts from ITS OWN reconstructed plane. */
  def losslessColorJpeg(id: Long): Array[Byte] = {
    val w = losslessWidth(id); val h = losslessHeight(id)
    val pred = (1 + id % 7).toInt
    val chan: Array[(Int, Int) => Int] = Array(
      (x, y) => losslessGray(id, x, y),
      (_, _) => 128,
      (x, y) => losslessCr(id, x, y))
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    frameHeader(out, 0xc3, 8, w, h, 3) // SOF3 lossless, 3 components
    dcTable(out, 10)
    scanHeader(out, 1 to 3, pred, 0, 0, 0) // all 3 comps, Ss = predictor

    val bits = new JpegBits(out)
    var y = 0
    while (y < h) {
      var x = 0
      while (x < w) {
        var c = 0
        while (c < 3) {
          val f = chan(c)
          val px =
            if (x == 0 && y == 0) 128
            else if (y == 0) f(x - 1, 0)
            else if (x == 0) f(0, y - 1)
            else {
              val ra = f(x - 1, y); val rb = f(x, y - 1); val rc = f(x - 1, y - 1)
              pred match {
                case 1 => ra
                case 2 => rb
                case 3 => rc
                case 4 => ra + rb - rc
                case 5 => ra + ((rb - rc) >> 1)
                case 6 => rb + ((ra - rc) >> 1)
                case _ => (ra + rb) >> 1
              }
            }
          bits.putDc(f(x, y) - px)
          c += 1
        }
        x += 1
      }
      y += 1
    }
    bits.align()
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** One arithmetic-coded sequential JPEG (SOF9, T.81 Annex D QM coder +
    * F.1.4.4 statistics): same dims, variants (grayscale / 4:4:4 /
    * 4:2:0), all-ones quant, and constant-block gray formula as
    * [[jpeg]], so the q58d pixel oracle carries over verbatim. Variant 1
    * additionally ships a DAC segment with non-default conditioning
    * (DC U=2, AC Kx=4), and the encoder uses those bounds — this
    * corpus's x8-quantized DC diffs happen to classify identically
    * under U=1 and U=2, so DAC parse coverage comes from these files
    * while conditioning EFFECTIVENESS is pinned at the model level in
    * QmCoderSpec (wrong U / wrong Kx diverge the stream). No restart
    * markers (decoder remit). */
  def arithJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val subsampled = variant == 2
    val nc = if (variant == 0) 1 else 3
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    app0Jfif(out)
    dqt(out, 1) // all ones
    // SOF9: sequential, arithmetic coding
    frameHeader(out, 0xc9, 8, w, h, nc, if (subsampled) 0x22 else 0x11)
    val dcU = if (variant == 1) 2 else 1
    val acKx = if (variant == 1) 4 else 5
    if (variant == 1) dac(out, dcU, acKx) // DC table 0 (U=2,L=0), AC Kx=4
    scanHeader(out, 1 to nc, 0, 63, 0, 0)

    val enc = new QmCoder.Encoder
    val dcSt = Array.fill(nc)(new QmCoder.DcState(0, dcU))
    val acSt = Array.fill(nc)(new QmCoder.AcState(acKx))
    val zeroAc = new Array[Int](64)
    def block(ci: Int, dc: Int): Unit = {
      QmCoder.encodeDc(enc, dcSt(ci), dc - dcSt(ci).pred)
      QmCoder.encodeAc(enc, acSt(ci), zeroAc)
    }
    val hMax = if (subsampled) 2 else 1
    val mcusX = w / (8 * hMax); val mcusY = h / (8 * hMax)
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      val mx = mcu % mcusX; val my = mcu / mcusX
      if (!subsampled) {
        block(0, 8 * (jpegBlockGray(id, mx, my) - 128))
        if (nc == 3) { block(1, 0); block(2, 0) }
      } else {
        var by = 0
        while (by < 2) {
          var bx = 0
          while (bx < 2) {
            block(0, 8 * (jpegBlockGray(id, mx * 2 + bx, my * 2 + by) - 128))
            bx += 1
          }
          by += 1
        }
        block(1, 0); block(2, 0)
      }
      mcu += 1
    }
    out.write(enc.finish())
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** One arithmetic-coded sequential JPEG WITH restart markers (SOF9 +
    * DRI/RSTn, T.81 E.2.4): same dims, variants, quant, and
    * constant-block gray formula as [[arithJpeg]] (the q58d oracle
    * carries over), but the entropy data is split into DRI=2 MCU
    * intervals — each a separate QM segment with its own FLUSH, RSTn
    * marker (numbered mod 8), fresh statistics bins, and reset DC
    * predictions. Exercises the per-interval re-INITDEC path and the
    * marker-number check in the decoder. */
  def arithRstJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val subsampled = variant == 2
    val nc = if (variant == 0) 1 else 3
    val dri = 2
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    app0Jfif(out)
    dqt(out, 1) // all ones
    // SOF9: sequential, arithmetic coding
    frameHeader(out, 0xc9, 8, w, h, nc, if (subsampled) 0x22 else 0x11)
    val dcU = if (variant == 1) 2 else 1
    val acKx = if (variant == 1) 4 else 5
    if (variant == 1) dac(out, dcU, acKx) // DC table 0 (U=2,L=0), AC Kx=4
    restartInterval(out, dri)
    scanHeader(out, 1 to nc, 0, 63, 0, 0)

    var enc = new QmCoder.Encoder
    var dcSt = Array.fill(nc)(new QmCoder.DcState(0, dcU))
    var acSt = Array.fill(nc)(new QmCoder.AcState(acKx))
    val zeroAc = new Array[Int](64)
    def block(ci: Int, dc: Int): Unit = {
      QmCoder.encodeDc(enc, dcSt(ci), dc - dcSt(ci).pred)
      QmCoder.encodeAc(enc, acSt(ci), zeroAc)
    }
    val hMax = if (subsampled) 2 else 1
    val mcusX = w / (8 * hMax); val mcusY = h / (8 * hMax)
    var rst = 0
    var mcu = 0
    while (mcu < mcusX * mcusY) {
      if (mcu > 0 && mcu % dri == 0) {
        // close the interval's segment, emit RSTn, restart everything
        out.write(enc.finish())
        mark(out, 0xd0 + rst % 8); rst += 1
        enc = new QmCoder.Encoder
        dcSt = Array.fill(nc)(new QmCoder.DcState(0, dcU))
        acSt = Array.fill(nc)(new QmCoder.AcState(acKx))
      }
      val mx = mcu % mcusX; val my = mcu / mcusX
      if (!subsampled) {
        block(0, 8 * (jpegBlockGray(id, mx, my) - 128))
        if (nc == 3) { block(1, 0); block(2, 0) }
      } else {
        var by = 0
        while (by < 2) {
          var bx = 0
          while (bx < 2) {
            block(0, 8 * (jpegBlockGray(id, mx * 2 + bx, my * 2 + by) - 128))
            bx += 1
          }
          by += 1
        }
        block(1, 0); block(2, 0)
      }
      mcu += 1
    }
    out.write(enc.finish())
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** 12-bit PROGRESSIVE HUFFMAN JPEG (SOF2 at precision 12) — the last
    * composable 12-bit leg: the q58e scan script (DC first at Al=1,
    * EOB-run AC bands, raw-bit DC refinement, AC refinement) over
    * 12-bit samples, with a SIXTEEN-category DC table (T.81 F.1.2.1.2:
    * 12-bit DC differences reach category 15 — an 8-bit decoder's
    * t<=11 cap fails these files). Variant matrix by id % 4 trades the
    * two 12-bit-specific stress axes: even variants use ALL-ONES quant
    * so point-transformed DC diffs reach category 14 (deep-category
    * path; refinement bits all zero — the nonzero-bit path is q58e's,
    * precision-independent); odd variants use q(0)=8 so odd samples
    * carry nonzero DC-refinement bits. Variants 2/3 add DRI=2 restart
    * intervals inside every scan. Grayscale on 0/2, neutral-chroma
    * 4:4:4 color on 1/3 (same closed-form q58j oracle). */
  def prog12Jpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 4).toInt
    val nc = if (variant % 2 == 0) 1 else 3
    val q0 = if (variant == 0 || variant == 3) 1 else 8
    val dri = if (variant >= 2) 2 else 0
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    dqt(out, q0) // q(0) per variant
    frameHeader(out, 0xc2, 12, w, h, nc) // SOF2 progressive, 12-bit
    dcTable(out, 16) // SIXTEEN categories
    eobRunTable(out)
    if (dri > 0) restartInterval(out, dri)

    val bw = w / 8; val bh = h / 8
    // quantized DC of block (bx, by): 8·(sample − 2048) / q(0)
    emitHuffProgScans(out, nc, bw, bh,
      (bx, by) => 8 * (jpeg12Block(id, bx, by) - 2048) / q0, dri)

    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  // ---- shared 1x1 scan-script emitters: the progressive scan script
  // (DC first at Al=1 on point-transformed values → band-split all-zero
  // AC first scans → raw-bit DC refinement carrying bit 0 → AC
  // refinement) and the sequential-arithmetic full-band scan appear in
  // multiple generators (12-bit single-frame, hierarchical frames in
  // both entropy flavors); one emitter per entropy backend keeps the
  // script change-once. Component 1 carries dcOf; components 2..nc are
  // constant-zero (neutral chroma / zero delta). Callers write
  // SOI/DQT/tables/SOF(+DRI/DAC); emitters write the SOS headers and
  // entropy segments.

  /** HUFFMAN progressive scan script (canonical 4-bit DC category codes
    * + EOBn AC codes — the tables prog12Jpeg/hierProgJpeg declare).
    * `dri` > 0 splits every scan into restart intervals (RSTn from RST0
    * per scan per T.81 E.1.2; predictors and EOB-runs reset). */
  private def emitHuffProgScans(out: ByteArrayOutputStream, nc: Int,
      bw: Int, bh: Int, dcOf: (Int, Int) => Int, dri: Int): Unit = {
    var rst = 0
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): JpegBits = {
      rst = 0 // RSTn numbering restarts at RST0 in every scan (T.81 E.1.2)
      scanHeader(out, comps, ss, se, ah, al)
      new JpegBits(out)
    }
    def restartMark(bits: JpegBits): Unit = {
      bits.align()
      mark(out, 0xd0 + rst % 8); rst += 1
    }

    // scan 1: DC first, Ah=0 Al=1, interleaved
    locally {
      val bits = sos(1 to nc, 0, 0, 0, 1)
      val pred = Array.fill(nc)(0)
      var mcu = 0
      while (mcu < bw * bh) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) {
          restartMark(bits); java.util.Arrays.fill(pred, 0)
        }
        val bx = mcu % bw; val by = mcu / bw
        val sv = dcOf(bx, by) >> 1 // point transform: arithmetic >> Al
        bits.putDc(sv - pred(0)); pred(0) = sv
        var ci = 1
        while (ci < nc) { bits.putDc(0 - pred(ci)); pred(ci) = 0; ci += 1 }
        mcu += 1
      }
      bits.align()
    }

    // AC band scans: all-zero bands as EOB-run chunks (EOBn r=0..3 +
    // extension bits), restart-interval aware
    def acScan(comp: Int, ss: Int, se: Int, ah: Int, al: Int): Unit = {
      val bits = sos(Seq(comp), ss, se, ah, al)
      val chunks = Array(1, 2, 3, 6, 11, 32767)
      var chunkAt = 0
      def emitRun(n: Int): Unit = {
        val r = 31 - Integer.numberOfLeadingZeros(n)
        bits.put(r, 4)
        if (r > 0) bits.put(n - (1 << r), r)
      }
      val blocks = bw * bh
      var blk = 0
      while (blk < blocks) {
        if (dri > 0 && blk > 0 && blk % dri == 0) restartMark(bits)
        val limit = if (dri > 0) math.min(blocks, blk + dri) else blocks
        var run = limit - blk
        while (run > 0) {
          val n = math.min(run, chunks(chunkAt % chunks.length))
          emitRun(n); chunkAt += 1
          run -= n; blk += n
        }
      }
      bits.align()
    }
    acScan(1, 1, 5, 0, 1)
    acScan(1, 6, 63, 0, 1)
    if (nc == 3) { acScan(2, 1, 63, 0, 1); acScan(3, 1, 63, 0, 1) }

    // DC refinement, Ah=1 Al=0: bit 0 of the two's-complement quantized DC
    locally {
      val bits = sos(1 to nc, 0, 0, 1, 0)
      var mcu = 0
      while (mcu < bw * bh) {
        if (dri > 0 && mcu > 0 && mcu % dri == 0) restartMark(bits)
        val bx = mcu % bw; val by = mcu / bw
        bits.put(dcOf(bx, by) & 1, 1)
        var ci = 1
        while (ci < nc) { bits.put(0, 1); ci += 1 }
        mcu += 1
      }
      bits.align()
    }

    // AC refinement at Al=0 over the same bands
    acScan(1, 1, 5, 1, 0)
    acScan(1, 6, 63, 1, 0)
    if (nc == 3) { acScan(2, 1, 63, 1, 0); acScan(3, 1, 63, 1, 0) }
  }

  /** ARITHMETIC (QM, T.81 G.2) progressive scan script — the same scan
    * sequence as [[emitHuffProgScans]] through the Annex F statistical
    * models. Statistics and the entropy coder reset per scan (each scan
    * is its own segment). */
  private def emitArithProgScans(out: ByteArrayOutputStream, nc: Int,
      bw: Int, bh: Int, dcOf: (Int, Int) => Int, dcU: Int, acKx: Int): Unit = {
    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit =
      scanHeader(out, comps, ss, se, ah, al)

    // scan 1: DC first, Ah=0 Al=1, interleaved
    locally {
      sos(1 to nc, 0, 0, 0, 1)
      val enc = new QmCoder.Encoder
      val dcSt = Array.fill(nc)(new QmCoder.DcState(0, dcU))
      var mcu = 0
      while (mcu < bw * bh) {
        val sv = dcOf(mcu % bw, mcu / bw) >> 1 // point transform: arithmetic >> Al
        QmCoder.encodeDc(enc, dcSt(0), sv - dcSt(0).pred)
        var ci = 1
        while (ci < nc) { QmCoder.encodeDc(enc, dcSt(ci), 0 - dcSt(ci).pred); ci += 1 }
        mcu += 1
      }
      out.write(enc.finish())
    }

    // AC band scans: all-zero bands — one adaptive EOB decision per
    // block in the first pass; the G.2.3 refinement likewise
    val zeroBand = new Array[Int](64)
    def acScan(comp: Int, ss: Int, se: Int, ah: Int, al: Int): Unit = {
      sos(Seq(comp), ss, se, ah, al)
      val enc = new QmCoder.Encoder
      val st = new QmCoder.AcState(acKx)
      var blk = 0
      while (blk < bw * bh) {
        if (ah == 0) QmCoder.encodeAcBand(enc, st, zeroBand, ss, se, al)
        else QmCoder.encodeAcRefine(enc, st, zeroBand, ss, se, al)
        blk += 1
      }
      out.write(enc.finish())
    }
    acScan(1, 1, 5, 0, 1)
    acScan(1, 6, 63, 0, 1)
    if (nc == 3) { acScan(2, 1, 63, 0, 1); acScan(3, 1, 63, 0, 1) }

    // DC refinement, Ah=1 Al=0: one fixed-state decision per block
    locally {
      sos(1 to nc, 0, 0, 1, 0)
      val enc = new QmCoder.Encoder
      val fixed = QmCoder.fixedBin()
      var mcu = 0
      while (mcu < bw * bh) {
        enc.encode(fixed, dcOf(mcu % bw, mcu / bw) & 1)
        var ci = 1
        while (ci < nc) { enc.encode(fixed, 0); ci += 1 }
        mcu += 1
      }
      out.write(enc.finish())
    }

    // AC refinement at Al=0 over the same bands
    acScan(1, 1, 5, 1, 0)
    acScan(1, 6, 63, 1, 0)
    if (nc == 3) { acScan(2, 1, 63, 1, 0); acScan(3, 1, 63, 1, 0) }
  }

  /** SEQUENTIAL arithmetic full-band scan (SOS + F.1.4.4 QM segments):
    * `dri` > 0 closes the segment every `dri` MCUs, emits RSTn (mod 8)
    * and resets ALL statistics and predictions (T.81 E.2.4). */
  private def emitArithSeqScan(out: ByteArrayOutputStream, nc: Int,
      bw: Int, bh: Int, dcOf: (Int, Int) => Int, dcU: Int, acKx: Int,
      dri: Int): Unit = {
    scanHeader(out, 1 to nc, 0, 63, 0, 0)

    var enc = new QmCoder.Encoder
    var dcSt = Array.fill(nc)(new QmCoder.DcState(0, dcU))
    var acSt = Array.fill(nc)(new QmCoder.AcState(acKx))
    val zeroAc = new Array[Int](64)
    def block(ci: Int, dc: Int): Unit = {
      QmCoder.encodeDc(enc, dcSt(ci), dc - dcSt(ci).pred)
      QmCoder.encodeAc(enc, acSt(ci), zeroAc)
    }
    var rst = 0
    var mcu = 0
    while (mcu < bw * bh) {
      if (dri > 0 && mcu > 0 && mcu % dri == 0) {
        out.write(enc.finish())
        mark(out, 0xd0 + rst % 8); rst += 1
        enc = new QmCoder.Encoder
        dcSt = Array.fill(nc)(new QmCoder.DcState(0, dcU))
        acSt = Array.fill(nc)(new QmCoder.AcState(acKx))
      }
      val bx = mcu % bw; val by = mcu / bw
      block(0, dcOf(bx, by))
      var ci = 1
      while (ci < nc) { block(ci, 0); ci += 1 } // neutral chroma
      mcu += 1
    }
    out.write(enc.finish())
  }

  /** 12-bit SEQUENTIAL ARITHMETIC JPEG (SOF9 at precision 12) — the
    * q58j sample path through the F.1.4.4 sequential QM models: DC
    * magnitudes run to 15 doublings (8·(sample−2048) over all-ones
    * quant, same coded values as [[jpeg12]], so SOF1↔SOF9 raster
    * identity is spec-pinnable), full-band scan, per-component DC/AC
    * statistics. Variant matrix by id % 4: 0 grayscale; 1 4:4:4
    * neutral-chroma color + DAC (DC U=2, AC Kx=4); 2 grayscale +
    * DRI=2 restart intervals (per-interval QM segments + statistics
    * resets compose with 12-bit precision); 3 color + DAC + DRI=2. */
  def seq12ArithJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 4).toInt
    val nc = if (variant % 2 == 0) 1 else 3
    val dri = if (variant >= 2) 2 else 0
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    dqt(out, 1) // all ones
    frameHeader(out, 0xc9, 12, w, h, nc) // SOF9: sequential arithmetic, 12-bit
    val dcU = if (nc == 3) 2 else 1
    val acKx = if (nc == 3) 4 else 5
    if (nc == 3) dac(out, dcU, acKx) // DC table 0 (U=2,L=0), AC Kx=4
    if (dri > 0) restartInterval(out, dri)
    emitArithSeqScan(out, nc, w / 8, h / 8,
      (bx, by) => 8 * (jpeg12Block(id, bx, by) - 2048), dcU, acKx, dri)
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** One progressive ARITHMETIC-coded JPEG (SOF10, T.81 G.2: the Annex
    * D/E QM coder over the Annex F statistics, per-scan entropy
    * segments): same dims, variants (grayscale / 4:4:4 / 4:2:0), q(0)=8
    * quant and constant-block gray formula as [[progressiveJpeg]], so
    * the q58d pixel oracle carries over verbatim. Scan script: DC first
    * Al=1 (F.1.4.4.1 on the point-transformed values) → AC-first band
    * scans at Al=1 (Y split 1–5 / 6–63; chroma 1–63 — all-zero bands,
    * so pure per-block EOB decision streams) → DC refinement Al=0 (one
    * FIXED-state decision per block, nonzero for odd grays) → AC
    * refinement Al=0 over the same bands (G.2.3 EOB decisions).
    * Variant 1 ships a DAC segment (DC U=2, AC Kx=4) and the encoder
    * conditions on those bounds. The nonzero-AC legs of G.2.3
    * (correction bits, newly-nonzero, sign) are pinned at the model
    * level in QmCoderSpec roundtrips — constant blocks keep the file
    * corpus closed-form. No restart markers (decoder remit, as SOF9). */
  def progArithJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val subsampled = variant == 2
    val nc = if (variant == 0) 1 else 3
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    app0Jfif(out)
    dqt(out, 8) // q(0)=8, rest ones
    // SOF10: progressive, arithmetic
    frameHeader(out, 0xca, 8, w, h, nc, if (subsampled) 0x22 else 0x11)
    val dcU = if (variant == 1) 2 else 1
    val acKx = if (variant == 1) 4 else 5
    if (variant == 1) dac(out, dcU, acKx) // DC table 0 (U=2,L=0), AC Kx=4

    val mcusX = w / (8 * (if (subsampled) 2 else 1))
    val mcusY = h / (8 * (if (subsampled) 2 else 1))
    // quantized DC of the Y block at (bx, by): v - 128 with q(0)=8
    def dcOf(bx: Int, by: Int): Int = jpegBlockGray(id, bx, by) - 128
    // Y blocks in interleaved order (the DC scans' walk); grayscale is
    // non-interleaved but its walk coincides (1x1 factors, exact dims)
    def yBlocksInterleaved: Seq[(Int, Int)] =
      if (!subsampled) for (my <- 0 until mcusY; mx <- 0 until mcusX) yield (mx, my)
      else for (my <- 0 until mcusY; mx <- 0 until mcusX;
                by <- 0 until 2; bx <- 0 until 2) yield (mx * 2 + bx, my * 2 + by)

    def sos(comps: Seq[Int], ss: Int, se: Int, ah: Int, al: Int): Unit =
      scanHeader(out, comps, ss, se, ah, al)

    // ---- scan 1: DC first, Ah=0 Al=1, all components interleaved; the
    // coded diffs live in the point-transformed (>> Al) domain
    locally {
      sos(1 to nc, 0, 0, 0, 1)
      val enc = new QmCoder.Encoder
      val dcSt = Array.fill(nc)(new QmCoder.DcState(0, dcU))
      val yPerMcu = if (subsampled) 4 else 1
      val blocks = yBlocksInterleaved
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        var k = 0
        while (k < yPerMcu) {
          val (bx, by) = blocks(mcu * yPerMcu + k)
          val sv = dcOf(bx, by) >> 1 // point transform: arithmetic >> Al
          QmCoder.encodeDc(enc, dcSt(0), sv - dcSt(0).pred)
          k += 1
        }
        if (nc == 3) {
          QmCoder.encodeDc(enc, dcSt(1), 0 - dcSt(1).pred)
          QmCoder.encodeDc(enc, dcSt(2), 0 - dcSt(2).pred)
        }
        mcu += 1
      }
      out.write(enc.finish())
    }

    // ---- AC band scans: all-zero bands; the first pass and the G.2.3
    // refinement pass each reduce to one adaptive EOB decision per block
    val zeroBand = new Array[Int](64)
    def acScan(comp: Int, blocks: Int, ss: Int, se: Int, ah: Int, al: Int): Unit = {
      sos(Seq(comp), ss, se, ah, al)
      val enc = new QmCoder.Encoder
      val st = new QmCoder.AcState(acKx)
      var blk = 0
      while (blk < blocks) {
        if (ah == 0) QmCoder.encodeAcBand(enc, st, zeroBand, ss, se, al)
        else QmCoder.encodeAcRefine(enc, st, zeroBand, ss, se, al)
        blk += 1
      }
      out.write(enc.finish())
    }
    val yBlocks = (w / 8) * (h / 8)
    val cBlocks = if (subsampled) (w / 16) * (h / 16) else yBlocks

    // scans 2..: AC first pass at Al=1 (Y split into two bands)
    acScan(1, yBlocks, 1, 5, 0, 1)
    acScan(1, yBlocks, 6, 63, 0, 1)
    if (nc == 3) { acScan(2, cBlocks, 1, 63, 0, 1); acScan(3, cBlocks, 1, 63, 0, 1) }

    // ---- DC refinement, Ah=1 Al=0: one fixed-state decision per block
    // — bit 0 of the two's-complement quantized DC (odd gray values)
    locally {
      sos(1 to nc, 0, 0, 1, 0)
      val enc = new QmCoder.Encoder
      val fixed = QmCoder.fixedBin()
      val yPerMcu = if (subsampled) 4 else 1
      val blocks = yBlocksInterleaved
      var mcu = 0
      while (mcu < mcusX * mcusY) {
        var k = 0
        while (k < yPerMcu) {
          val (bx, by) = blocks(mcu * yPerMcu + k)
          enc.encode(fixed, dcOf(bx, by) & 1)
          k += 1
        }
        if (nc == 3) { enc.encode(fixed, 0); enc.encode(fixed, 0) }
        mcu += 1
      }
      out.write(enc.finish())
    }

    // scans ..n: AC refinement at Al=0 over the same bands
    acScan(1, yBlocks, 1, 5, 1, 0)
    acScan(1, yBlocks, 6, 63, 1, 0)
    if (nc == 3) { acScan(2, cBlocks, 1, 63, 1, 0); acScan(3, cBlocks, 1, 63, 1, 0) }

    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** 12-bit PROGRESSIVE ARITHMETIC JPEG (SOF10 at precision 12) — the
    * composition of the q58j 12-bit sample path and the q58k T.81 G.2
    * progressive-arithmetic scan loop: DC first on point-transformed
    * 12-bit quantized values (magnitude trees run past the 8-bit
    * depth), band-split all-zero AC first scans, fixed-state DC
    * refinement carrying bit 0, G.2.3 AC refinement. Even ids are
    * grayscale; odd ids 3-component 4:4:4 with constant NEUTRAL chroma
    * (sample 2048 → quantized DC 0), so the decoder's 12-bit-domain
    * YCbCr leaves r=g=b and the q58j `>> 4` oracle carries over
    * unchanged. Odd ids also ship a DAC segment (DC U=2, AC Kx=4) to
    * exercise non-default conditioning at this precision. Quant is
    * q(0)=8, rest ones, so the quantized DC of a constant block equals
    * sample − 2048 (range ±2047). */
  def prog12ArithJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val nc = if (id % 2 == 0) 1 else 3
    val out = new ByteArrayOutputStream()
    mark(out, 0xd8) // SOI
    dqt(out, 8) // q(0)=8, rest ones
    frameHeader(out, 0xca, 12, w, h, nc) // SOF10: progressive arithmetic, 12-bit
    val dcU = if (nc == 3) 2 else 1
    val acKx = if (nc == 3) 4 else 5
    if (nc == 3) dac(out, dcU, acKx) // DC table 0 (U=2,L=0), AC Kx=4
    // quantized DC of a constant block: 8·(sample − 2048) DCT over q(0)=8
    emitArithProgScans(out, nc, w / 8, h / 8,
      (bx, by) => jpeg12Block(id, bx, by) - 2048, dcU, acKx)
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  // ---- hierarchical JPEG corpus (q58h): REAL ITU T.81 Annex J pyramids.
  // Three variants by id % 3, all exact by construction so the oracle is
  // a closed-form pixel formula:
  //  0: grayscale pyramid — SOF0 base at half resolution (constant 8x8
  //     blocks, DC-only exact), EXP(1,1) doubling, then a SOF7
  //     differential-lossless correction whose samples are hierDetail
  //     (signed, so negative-category coding is exercised); final pixel
  //     = upsample(base) + detail, in [16, 239] by construction.
  //  1: grayscale quality refinement — SOF0 at FULL resolution, then a
  //     SOF5 differential-DCT frame at the same resolution (no EXP; legal
  //     per J.1) adding a constant per-block delta; final pixel
  //     = clamp(base + delta), so the [0,255] clamp path is exercised.
  //  2: the color twin of variant 0 — 3 components 4:4:4, chroma constant
  //     128 in the base and zero in the correction, so r=g=b=Y exactly
  //     and the grayscale oracle formula carries over.

  /** Base-layer block value for the pyramid variants: [32, 223], keeping
    * upsample+detail inside [0, 255] with no wraparound. */
  def hierBase(id: Long, bx: Int, by: Int): Int =
    32 + jpegBlockGray(id, bx, by) % 192

  /** Differential-lossless correction sample, in [-16, 16]. */
  def hierDetail(id: Long, x: Int, y: Int): Int =
    (((id + x + 2 * y) % 33) - 16).toInt

  /** Differential-DCT per-block delta for variant 1, in [-30, 30]. */
  def hierDelta(id: Long, bx: Int, by: Int): Int =
    (((id * 5 + 7 * bx + 3 * by) % 61) - 30).toInt

  /** One hierarchical JPEG (same dims family as [[jpeg]]). */
  def hierJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val nc = if (variant == 2) 3 else 1
    val out = new ByteArrayOutputStream()
    def frame(marker: Int, fw: Int, fh: Int): Unit =
      frameHeader(out, marker, 8, fw, fh, nc)
    mark(out, 0xd8) // SOI
    dqt(out, 1) // all ones
    dcTable(out, 12)
    eobTable(out)
    frame(0xde, w, h) // DHP: the hierarchy's full dimensions

    def dctScan(fw: Int, fh: Int, blockVal: (Int, Int) => Int,
        levelShift: Int): Unit = {
      scanHeader(out, 1 to nc, 0, 63, 0, 0)
      val bits = new JpegBits(out)
      val bw = (fw + 7) / 8; val bh = (fh + 7) / 8
      val pred = new Array[Int](nc)
      var mcu = 0
      while (mcu < bw * bh) {
        val bx = mcu % bw; val by = mcu / bw
        var c = 0
        while (c < nc) {
          // Y carries the pattern; chroma (c>0) is constant 128 in the
          // base layer and zero in deltas — either way a zero DC coefficient
          val dc = if (c == 0) 8 * (blockVal(bx, by) - levelShift) else 0
          bits.putDc(dc - pred(c)); pred(c) = dc
          bits.put(0, 2) // EOB
          c += 1
        }
        mcu += 1
      }
      bits.align()
    }

    def losslessDiffScan(fw: Int, fh: Int): Unit = {
      // differential frame: Ss = 0 (no prediction)
      scanHeader(out, 1 to nc, 0, 0, 0, 0)
      val bits = new JpegBits(out)
      var y = 0
      while (y < fh) {
        var x = 0
        while (x < fw) {
          var c = 0
          while (c < nc) {
            bits.putDc(if (c == 0) hierDetail(id, x, y) else 0)
            c += 1
          }
          x += 1
        }
        y += 1
      }
      bits.align()
    }

    if (variant == 1) {
      frame(0xc0, w, h)
      dctScan(w, h, (bx, by) => jpegBlockGray(id, bx, by), levelShift = 128)
      frame(0xc5, w, h)
      dctScan(w, h, (bx, by) => hierDelta(id, bx, by), levelShift = 0)
    } else {
      val w2 = w / 2; val h2 = h / 2
      frame(0xc0, w2, h2)
      dctScan(w2, h2, (bx, by) => hierBase(id, bx, by), levelShift = 128)
      expandBoth(out)
      frame(0xc7, w, h)
      losslessDiffScan(w, h)
    }
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** One ARITHMETIC-coded hierarchical JPEG (T.81 Annex J pyramid with
    * SOF9/SOF13 frames — the QM coder inside a DHP hierarchy, the last
    * named residue of the JPEG matrix). Variants by id % 3:
    *  0: grayscale quality refinement — SOF9 base at FULL resolution
    *     (jpegBlockGray), then a SOF13 differential frame adding the
    *     per-block hierDelta; final pixel = clamp(gray + delta) — the
    *     q58h variant-1 formula.
    *  1: the color twin of 0 — 3 components 4:4:4, neutral chroma in
    *     the base and zero delta, so r=g=b and the formula carries over.
    *  2: grayscale PYRAMID — SOF9 base at half resolution (hierBase),
    *     EXP(1,1) doubling, then a SOF13 full-resolution correction of
    *     per-block hierDelta; final pixel = J.1.1.2-upsample(base) +
    *     delta (in [2, 253] by construction, clamp never engaged).
    * All frames share the default QM conditioning; the DC prediction
    * chain is maintained in differential frames exactly as the in-repo
    * SOF5 Huffman path does (encoder, decoder, and oracle agree). */
  def hierArithJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val nc = if (variant == 1) 3 else 1
    val out = new ByteArrayOutputStream()
    def frame(marker: Int, fw: Int, fh: Int): Unit =
      frameHeader(out, marker, 8, fw, fh, nc)
    def arithScan(fw: Int, fh: Int, blockVal: (Int, Int) => Int,
        levelShift: Int): Unit =
      emitArithSeqScan(out, nc, (fw + 7) / 8, (fh + 7) / 8,
        (bx, by) => 8 * (blockVal(bx, by) - levelShift),
        dcU = 1, acKx = 5, dri = 0)
    mark(out, 0xd8) // SOI
    dqt(out, 1) // all ones
    frame(0xde, w, h) // DHP: the hierarchy's full dimensions
    if (variant == 2) {
      val w2 = w / 2; val h2 = h / 2
      frame(0xc9, w2, h2)
      arithScan(w2, h2, (bx, by) => hierBase(id, bx, by), levelShift = 128)
      expandBoth(out)
      frame(0xcd, w, h)
      arithScan(w, h, (bx, by) => hierDelta(id, bx, by), levelShift = 0)
    } else {
      frame(0xc9, w, h)
      arithScan(w, h, (bx, by) => jpegBlockGray(id, bx, by), levelShift = 128)
      frame(0xcd, w, h)
      arithScan(w, h, (bx, by) => hierDelta(id, bx, by), levelShift = 0)
    }
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** PROGRESSIVE-arithmetic hierarchical JPEG (SOF10/SOF14 inside a DHP
    * pyramid — multi-scan frames in a hierarchy, T.81's deepest
    * composition of Annex G.2 and Annex J). Same variant matrix and
    * closed-form pixel oracle as [[hierArithJpeg]] (q58q): 0 = full-res
    * SOF10 base + SOF14 differential refinement (gray), 1 = the color
    * twin, 2 = half-res SOF10 base + EXP + SOF14 correction. Every
    * frame runs the full G.2 scan script — DC first at Al=1
    * (point-transformed), band-split all-zero AC first scans, raw-bit
    * DC refinement (nonzero for odd values), G.2.3 AC refinement —
    * so the decoder must keep the frame's coefficient store open
    * across scans and reconstruct at the NEXT frame-level marker. */
  def hierProgArithJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val nc = if (variant == 1) 3 else 1
    val out = new ByteArrayOutputStream()
    // one full progressive frame: q(0)=8 quant so the quantized DC of a
    // constant block is blockVal − levelShift
    def progFrame(marker: Int, fw: Int, fh: Int, blockVal: (Int, Int) => Int,
        levelShift: Int): Unit = {
      frameHeader(out, marker, 8, fw, fh, nc)
      emitArithProgScans(out, nc, (fw + 7) / 8, (fh + 7) / 8,
        (bx, by) => blockVal(bx, by) - levelShift, dcU = 1, acKx = 5)
    }
    mark(out, 0xd8) // SOI
    dqt(out, 8) // q(0)=8, rest ones
    frameHeader(out, 0xde, 8, w, h, nc) // DHP
    if (variant == 2) {
      progFrame(0xca, w / 2, h / 2, (bx, by) => hierBase(id, bx, by), 128)
      expandBoth(out)
      progFrame(0xce, w, h, (bx, by) => hierDelta(id, bx, by), 0)
    } else {
      progFrame(0xca, w, h, (bx, by) => jpegBlockGray(id, bx, by), 128)
      progFrame(0xce, w, h, (bx, by) => hierDelta(id, bx, by), 0)
    }
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  /** PROGRESSIVE-Huffman hierarchical JPEG (SOF2/SOF6 inside a DHP
    * pyramid) — the Huffman twin of [[hierProgArithJpeg]], same variant
    * matrix and pixel oracle: multi-scan SOF2 base + SOF6 differential
    * refinement (or the EXP pyramid on variant 2), each frame running
    * the q58e scan script (DC first at Al=1, EOB-run AC bands chunked
    * over EOBn r=0..3, raw-bit DC refinement, AC refinement). */
  def hierProgJpeg(id: Long): Array[Byte] = {
    val w = jpegWidth(id); val h = jpegHeight(id)
    val variant = (id % 3).toInt
    val nc = if (variant == 1) 3 else 1
    val out = new ByteArrayOutputStream()
    def progFrame(marker: Int, fw: Int, fh: Int, blockVal: (Int, Int) => Int,
        levelShift: Int): Unit = {
      frameHeader(out, marker, 8, fw, fh, nc)
      emitHuffProgScans(out, nc, (fw + 7) / 8, (fh + 7) / 8,
        (bx, by) => blockVal(bx, by) - levelShift, dri = 0)
    }
    mark(out, 0xd8) // SOI
    dqt(out, 8) // q(0)=8, rest ones
    dcTable(out, 12)
    eobRunTable(out)
    frameHeader(out, 0xde, 8, w, h, nc) // DHP
    if (variant == 2) {
      progFrame(0xc2, w / 2, h / 2, (bx, by) => hierBase(id, bx, by), 128)
      expandBoth(out)
      progFrame(0xc6, w, h, (bx, by) => hierDelta(id, bx, by), 0)
    } else {
      progFrame(0xc2, w, h, (bx, by) => jpegBlockGray(id, bx, by), 128)
      progFrame(0xc6, w, h, (bx, by) => hierDelta(id, bx, by), 0)
    }
    mark(out, 0xd9) // EOI
    out.toByteArray
  }

  // ---- near-duplicate image corpus (q75): groups of 5 perturbed variants
  // of a shared grayscale base image, emitted through three REAL container
  // encodings (PNG / GIF / top-down BMP) so the dedup fingerprint is
  // computed from actually-decoded bytes, while every pixel stays a
  // closed-form function of (id, x, y) the oracle can recompute.

  def nearDupGroup(id: Long): Long = id / 5
  def nearDupWidth(id: Long): Int = (16 + nearDupGroup(id) % 5).toInt
  def nearDupHeight(id: Long): Int = (12 + nearDupGroup(id) % 3).toInt

  /** Grayscale value at (x, y) — the group's quadratic base pattern plus
    * the variant's perturbation: v=0 original, v=1 global +3 brightness
    * (mod-wrap — dHash is invariant except at wrap pixels), v=2..4
    * sparse bumps of increasing density/amplitude (small → larger
    * hamming). Mirrored verbatim in the q75 oracle SQL. */
  def nearDupGray(id: Long, x: Int, y: Int): Int = {
    val g = nearDupGroup(id)
    val base = (g * 31 + 5L * x * x + 3L * y * y + 7L * x * y) % 256
    val delta = (id % 5) match {
      case 0 => 0
      case 1 => 3
      case 2 => if ((x + 7L * y + id) % 19 == 0) 40 else 0
      case 3 => if ((x + 5L * y + id) % 17 == 0) 56 else 0
      case _ => if ((x + 3L * y + id) % 7 == 0) 64 else 0
    }
    ((base + delta) % 256).toInt
  }

  // ---- near-duplicate audio corpus (q79): groups of 5 perturbed variants
  // of a shared base signal, emitted as real 16-bit PCM WAV files so the
  // audio fingerprint is computed from actually-decoded samples, while
  // every sample stays a closed-form function of (id, j).

  def nearDupWavN(id: Long): Int = (260 + nearDupGroup(id) % 60).toInt

  /** Sample value at index j — the group's wrapped-quadratic base signal
    * plus the variant's perturbation, the 1-D analogue of
    * [[nearDupGray]]: v=0 original, v=1 global +3 offset (mod-wrap —
    * frame-energy comparisons shift together, so the fingerprint is
    * near-invariant), v=2..4 sparse bumps of increasing density and
    * amplitude. Values stay in [0, 2048) so 16-bit PCM never clips.
    * Mirrored verbatim in the q79 oracle SQL. */
  def nearDupSample(id: Long, j: Int): Int = {
    val g = nearDupGroup(id)
    val base = (g * 37 + (5L * j * j) / 7 + 3L * j) % 2048
    val delta = (id % 5) match {
      case 0 => 0
      case 1 => 3
      case 2 => if ((7L * j + id) % 19 == 0) 40 else 0
      case 3 => if ((5L * j + id) % 17 == 0) 56 else 0
      case _ => if ((3L * j + id) % 7 == 0) 64 else 0
    }
    ((base + delta) % 2048).toInt
  }

  /** One near-dup audio corpus member: mono 8 kHz 16-bit PCM over the
    * variant's sample formula, through the real chunk-walking writer. */
  def nearDupWav(id: Long): Array[Byte] =
    wavOf(1, 8000, nearDupWavN(id), j => nearDupSample(id, j))

  // ---- near-duplicate video corpus (q82): groups of 5 perturbed variants
  // of a shared animated base clip, emitted as real multi-frame GIF89a
  // files (the engine's video container), every pixel of every frame a
  // closed-form function of (id, f, x, y).

  def nearDupFrames(id: Long): Int = (8 + nearDupGroup(id) % 5).toInt

  /** Gray value at frame f, pixel (x, y) — a [[nearDupGray]]-shaped
    * spatial base plus an f·(x+y+1) motion term. The quadratic and
    * motion COEFFICIENTS are group-dependent ((5+g%7), (3+g%5),
    * (9+g%4)): dHash is offset-invariant, so a constant `g·31` alone
    * would leave every same-dimension group with near-identical
    * GRADIENTS — coefficient diversity makes cross-group clips
    * genuinely different content (any two groups under 105 apart differ
    * in a spatial coefficient or a dimension). Variant deltas are the
    * three sparse perturbation classes extended into the time axis.
    * Mirrored verbatim in the q82 oracle SQL. */
  def nearDupVideoGray(id: Long, f: Int, x: Int, y: Int): Int = {
    val g = nearDupGroup(id)
    val base = (g * 31 + (5 + g % 7) * x.toLong * x + (3 + g % 5) * y.toLong * y
      + 7L * x * y + (9 + g % 4) * f.toLong * (x + y + 1)) % 256
    val delta = (id % 5) match {
      case 0 => 0
      case 1 => 3
      case 2 => if ((x + 7L * y + 5L * f + id) % 19 == 0) 40 else 0
      case 3 => if ((x + 5L * y + 3L * f + id) % 17 == 0) 56 else 0
      case _ => if ((x + 3L * y + 2L * f + id) % 7 == 0) 64 else 0
    }
    ((base + delta) % 256).toInt
  }

  /** One near-dup video corpus member: the variant's animated gray clip
    * through the real multi-frame writer (identity gray palette). */
  def nearDupVideo(id: Long): Array[Byte] =
    gifAnimOf(nearDupWidth(id), nearDupHeight(id), nearDupFrames(id),
      (f, x, y) => nearDupVideoGray(id, f, x, y), i => i, i => i, i => i)

  /** One near-dup corpus member: the variant's gray bitmap in a real
    * container chosen by id%3 — PNG (r=g=b=gray), GIF (identity gray
    * palette, index = gray), or top-down BMP. r=g=b makes the ITU luma
    * (299r+587g+114b)/1000 EXACTLY the gray value, so the oracle needs
    * only the one formula. */
  def nearDupImage(id: Long): Array[Byte] = {
    val w = nearDupWidth(id); val h = nearDupHeight(id)
    val gray = (x: Int, y: Int) => nearDupGray(id, x, y)
    (id % 3) match {
      case 0 => pngOf(w, h, gray, gray, gray)
      case 1 => gifOf(w, h, gray, i => i, i => i, i => i)
      case _ => bmpOf(w, h, topDown = true, gray, gray, gray)
    }
  }
}
