package graft.multimodal

/** Baseline and progressive JPEG decode in pure JVM byte math — the
  * last image format that previously fell to the deterministic stub.
  * Scope (ITU T.81): 8-bit precision, Huffman entropy coding (DHT
  * canonical tables), 1- or 3-component scans, sampling factors 1 or 2
  * (4:4:4 / 4:2:2 / 4:2:0), restart markers (DRI/RSTn), multi-segment
  * DQT/DHT, APPn/COM skipping, 0xFF00 byte stuffing; progressive
  * (SOF2) adds multi-scan spectral selection and successive
  * approximation (DC first/refine, AC first/refine with EOB runs,
  * tables and DRI redefinable between scans); lossless (SOF3) adds the
  * Annex H predictor walk (all 7 predictors, exact samples, no DCT);
  * arithmetic-coded sequential (SOF9) adds the Annex D/E QM coder with
  * the F.1.4.4 DC/AC statistics models and DAC conditioning tables
  * ([[QmCoder]]); lossless also covers 3-component 1x1 INTERLEAVED
  * scans (per-channel predictor chains + JFIF YCbCr); 12-bit precision
  * decodes through the extended-sequential (SOF1) path — grayscale or
  * 4:4:4 color, level shift 2048, DC categories to 15, YCbCr in the
  * 12-bit domain, top-8-bit emission;
  * hierarchical (DHP) streams dispatch to the Annex J multi-frame
  * driver ([[HierJpeg]]); arithmetic-coded progressive (SOF10) runs the
  * T.81 G.2 statistical models — per-scan QM entropy segments over the
  * same progressive coefficient store (DC first on point-transformed
  * values, fixed-state DC refinement, band-limited AC first, G.2.3 AC
  * refinement); arithmetic sequential also honors restart intervals
  * (per-interval entropy segments, RSTn numbering, statistics resets,
  * E.2.4). Out-of-[[HierJpeg]]-remit hierarchical residues and 12-bit
  * progressive/arithmetic combinations return None (stub fallback) —
  * as does truncation or corruption anywhere.
  *
  * Layers: this object is the only owner of table parsing
  * ([[Tables]]), entropy decoding ([[Huff]], [[BitReader]], the
  * [[QmCoder]] decoder), the scan decoders (sequential Huffman and
  * arithmetic, progressive Huffman and arithmetic, lossless — each
  * returns where its entropy segment ends and leaves the end rule to
  * its caller), the IDCT and the colour output. Its marker loop drives
  * one frame and requires EOI after the image; [[HierJpeg]]'s loop
  * drives a pyramid of frames through the same layers.
  *
  * Forged-header allocation safety mirrors decodePng/decodeGif: the
  * SOF-claimed pixel count is attacker-controlled, so it is capped by a
  * maximum plausible expansion of the actual entropy-data length before
  * any plane allocates (a DC-only block is ≥ 2 bits for 64 pixels, so
  * 2048 px/byte is already generous).
  *
  * Output is the orientation-true [[HeaderCodec.Pixels]]; grayscale
  * decodes to r=g=b, color through the JFIF YCbCr→RGB transform.
  */
object JpegCodec {

  /** Zigzag scan order: zigzag sequence index → natural (row*8+col). */
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // cosTable(u)(x) = C(u)/2 * cos((2x+1)uπ/16); IDCT is then
  // out(x,y) = ΣuΣv cos(u)(x) cos(v)(y) F(u,v) with no extra scaling
  private val CosTable: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2) else 1.0
    0.5 * c * math.cos((2 * x + 1) * u * math.Pi / 16)
  }

  private final class Huff(counts: Array[Int], vals: Array[Byte]) {
    // canonical code assignment (T.81 C.2): firstCode/firstVal per length
    private val firstCode = new Array[Int](17)
    private val firstVal = new Array[Int](17)
    locally {
      var code = 0; var k = 0; var len = 1
      while (len <= 16) {
        firstCode(len) = code; firstVal(len) = k
        code += counts(len - 1); k += counts(len - 1)
        code <<= 1
        len += 1
      }
    }
    /** Decode one symbol; -1 on corrupt stream / end of data. */
    def decode(br: BitReader): Int = {
      var code = 0; var len = 0
      while (len < 16) {
        val bit = br.nextBit()
        if (bit < 0) return -1
        code = (code << 1) | bit
        len += 1
        val idx = code - firstCode(len)
        if (idx >= 0 && idx < counts(len - 1))
          return vals(firstVal(len) + idx) & 0xff
      }
      -1
    }
  }

  /** MSB-first bit reader over the entropy-coded segment: un-stuffs
    * 0xFF00, stops (and records) at any real marker. */
  private final class BitReader(b: Array[Byte], start: Int) {
    private var pos = start
    private var cur = 0
    private var cnt = 0
    private var marker = -1 // pending marker code once the segment ends
    def nextBit(): Int = {
      if (cnt == 0) {
        if (marker >= 0 || pos >= b.length) return -1
        val v = b(pos) & 0xff
        if (v == 0xff) {
          if (pos + 1 >= b.length) { marker = 0xd9; return -1 }
          val m = b(pos + 1) & 0xff
          if (m == 0x00) { pos += 2; cur = 0xff; cnt = 8 } // stuffed literal FF
          else { marker = m; return -1 }
        } else { pos += 1; cur = v; cnt = 8 }
      }
      cnt -= 1
      (cur >> cnt) & 1
    }
    def receive(s: Int): Int = {
      var v = 0; var i = 0
      while (i < s) {
        val bit = nextBit()
        if (bit < 0) return Int.MinValue
        v = (v << 1) | bit
        i += 1
      }
      v
    }
    /** Byte-align (dropping pad bits) and return the position of the
      * pending marker's 0xFF without consuming it, or -1 if the stream
      * ends with no marker. A lone 0xFF as the last byte reads as EOI. */
    def segmentEnd(): Int = {
      cnt = 0
      if (marker < 0) {
        if (pos + 1 >= b.length || (b(pos) & 0xff) != 0xff) return -1
        marker = b(pos + 1) & 0xff
      }
      pos
    }
    /** Byte-align, consume the RSTn marker expected at an interval
      * boundary, and resume; false if it is absent. */
    def restart(): Boolean = {
      if (segmentEnd() < 0 || marker < 0xd0 || marker > 0xd7) return false
      pos += 2; marker = -1; cur = 0
      true
    }
  }

  private def extend(v: Int, s: Int): Int =
    if (s == 0) 0 else if (v < (1 << (s - 1))) v - (1 << s) + 1 else v

  private[multimodal] def u8(b: Array[Byte], i: Int): Int = b(i) & 0xff
  private[multimodal] def be16(b: Array[Byte], i: Int): Int = (u8(b, i) << 8) | u8(b, i + 1)

  private[multimodal] def clamp255(v: Int): Int =
    if (v < 0) 0 else if (v > 255) 255 else v

  /** The JFIF YCbCr→RGB transform of one 8-bit sample triple (chroma
    * centred on 128), rounded and clamped into rgb(o), rgb(o+1), rgb(o+2). */
  private[multimodal] def putYcc(rgb: Array[Byte], o: Int, lum: Int, cb: Int,
      cr: Int): Unit = {
    val cbv = cb - 128; val crv = cr - 128
    rgb(o) = clamp255(math.round(lum + 1.402 * crv).toInt).toByte
    rgb(o + 1) = clamp255(math.round(lum - 0.344136 * cbv - 0.714136 * crv).toInt).toByte
    rgb(o + 2) = clamp255(math.round(lum + 1.772 * cbv).toInt).toByte
  }

  /** Position of the next marker's 0xFF at or after `from`, walking the
    * unread flush bytes of an arithmetic-coded segment (0xFF followed by
    * <= 0x8F is bit-stuffed entropy data, not a marker); -1 at EOF. */
  private def nextMarker(b: Array[Byte], from: Int): Int = {
    var p = from
    while (p + 1 < b.length) {
      if (u8(b, p) == 0xff && u8(b, p + 1) > 0x8f) return p
      p += 1
    }
    -1
  }

  /** Separable float IDCT of one dequantized block (natural order): the
    * column pass lands in tmp(0..63), the unrounded spatial samples in
    * tmp(64 + y * 8 + x). `tmp` is a caller-owned 128-slot scratch
    * (allocation-free inner loop). */
  private def idct(coef: Array[Int], tmp: Array[Double]): Unit = {
    // tmp(u, y) = Σv cos(v)(y) F(u, v)
    var u = 0
    while (u < 8) {
      var y = 0
      while (y < 8) {
        var acc = 0.0
        var v = 0
        while (v < 8) { acc += CosTable(v)(y) * coef(v * 8 + u); v += 1 }
        tmp(u * 8 + y) = acc
        y += 1
      }
      u += 1
    }
    var x = 0
    while (x < 8) {
      var y = 0
      while (y < 8) {
        var acc = 0.0
        var uu = 0
        while (uu < 8) { acc += CosTable(uu)(x) * tmp(uu * 8 + y); uu += 1 }
        tmp(64 + y * 8 + x) = acc
        y += 1
      }
      x += 1
    }
  }

  /** [[idct]] of one block into the 8-bit component plane at block
    * (bx, by): level shift +128, then round, then clamp to [0,255]. */
  private def idctBlock(coef: Array[Int], tmp: Array[Double],
      plane: Array[Byte], planeW: Int, bx: Int, by: Int): Unit = {
    idct(coef, tmp)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        val px = math.round(tmp(64 + y * 8 + x) + 128.0).toInt
        plane((by * 8 + y) * planeW + (bx * 8 + x)) = clamp255(px).toByte
        x += 1
      }
      y += 1
    }
  }

  /** [[idct]] of one block into an Int plane WITHOUT the level shift or
    * clamping — the form 12-bit frames (shift 2048 at emission) and
    * hierarchical frames need (T.81 J: differential samples are signed;
    * shift/clamp happen at reference merge). This is not
    * clamp(128 + idctBlockRaw): here the sample is rounded before any
    * shift, in [[idctBlock]] after it, and in floating point the two
    * differ — a = 0.49999999999999994 gives round(a) + 128 = 128 but
    * a + 128.0 == 128.5 exactly, which rounds to 129. */
  private def idctBlockRaw(coef: Array[Int], tmp: Array[Double],
      out: Array[Int], planeW: Int, bx: Int, by: Int): Unit = {
    idct(coef, tmp)
    var y = 0
    while (y < 8) {
      var x = 0
      while (x < 8) {
        out((by * 8 + y) * planeW + (bx * 8 + x)) = math.round(tmp(64 + y * 8 + x)).toInt
        x += 1
      }
      y += 1
    }
  }

  /** Quantization, Huffman and arithmetic-conditioning tables plus the
    * restart interval, as a marker loop accumulates them (T.81 B.2.4).
    * Each parser reads one segment from its length field at `seg` and
    * returns the offset just past it, or -1 if the segment is malformed;
    * a caller with a narrower remit checks the parsed state afterwards. */
  private[multimodal] final class Tables {
    val qt = new Array[Array[Int]](4)
    var wideQt = false // some DQT carried a 16-bit (Pq=1) table
    private[JpegCodec] val dcTabs = new Array[Huff](4)
    private[JpegCodec] val acTabs = new Array[Huff](4)
    // DAC conditioning (T.81 B.2.4.3), spec defaults when absent
    val dcCondL = Array(0, 0, 0, 0)
    val dcCondU = Array(1, 1, 1, 1)
    val acCondK = Array(5, 5, 5, 5)
    var restartInterval = 0

    /** DQT: one or more tables in the segment. */
    def dqt(b: Array[Byte], seg: Int): Int = {
      val end = seg + be16(b, seg)
      if (end > b.length) return -1
      var p = seg + 2
      while (p < end) {
        val pq = u8(b, p) >> 4; val tq = u8(b, p) & 15
        if (tq > 3 || pq > 1) return -1
        val n = if (pq == 0) 64 else 128
        if (p + 1 + n > end) return -1
        qt(tq) = Array.tabulate(64)(k =>
          if (pq == 0) u8(b, p + 1 + k) else be16(b, p + 1 + 2 * k))
        if (pq == 1) wideQt = true
        p += 1 + n
      }
      end
    }

    /** DHT: one or more tables in the segment. */
    def dht(b: Array[Byte], seg: Int): Int = {
      val end = seg + be16(b, seg)
      if (end > b.length) return -1
      var p = seg + 2
      while (p < end) {
        val tc = u8(b, p) >> 4; val th = u8(b, p) & 15
        if (tc > 1 || th > 3 || p + 17 > end) return -1
        val counts = Array.tabulate(16)(k => u8(b, p + 1 + k))
        val total = counts.sum
        if (total > 256 || p + 17 + total > end) return -1
        val h = new Huff(counts, b.slice(p + 17, p + 17 + total))
        if (tc == 0) dcTabs(th) = h else acTabs(th) = h
        p += 17 + total
      }
      end
    }

    /** DAC: arithmetic conditioning tables (B.2.4.3). */
    def dac(b: Array[Byte], seg: Int): Int = {
      val end = seg + be16(b, seg)
      if (end > b.length) return -1
      var p = seg + 2
      while (p + 1 < end) {
        val tc = u8(b, p) >> 4; val tb = u8(b, p) & 15
        val cs = u8(b, p + 1)
        if (tb > 3) return -1
        if (tc == 0) {
          val l = cs & 15; val u = cs >> 4
          if (u > 15 || l > u) return -1
          dcCondL(tb) = l; dcCondU(tb) = u
        } else if (tc == 1) {
          if (cs < 1 || cs > 63) return -1
          acCondK(tb) = cs
        } else return -1
        p += 2
      }
      end
    }

    /** DRI: the restart interval in MCUs (0 = none). */
    def dri(b: Array[Byte], seg: Int): Int = {
      if (seg + 4 > b.length) return -1
      restartInterval = be16(b, seg + 2)
      seg + be16(b, seg)
    }
  }

  /** Any other segment with a length field (APPn, COM): skipped. */
  private[multimodal] def skipSegment(b: Array[Byte], seg: Int): Int = {
    val len = be16(b, seg)
    if (len < 2 || seg + len > b.length) -1 else seg + len
  }

  private[multimodal] final case class Component(id: Int, h: Int, v: Int, tq: Int) {
    var td = 0; var ta = 0
    var plane: Array[Byte] = null // 8-bit DCT samples, shifted and clamped
    var raw: Array[Int] = null     // unshifted DCT samples (12-bit, hierarchical)
    var planeW = 0; var planeH = 0
    var dcPred = 0
    // progressive-only state: unquantized coefficients for every padded
    // block (natural order within each 64), the component's REAL
    // (non-padded) block dims for non-interleaved scans, and whether a
    // first DC scan has arrived (T.81 requires it before anything else)
    var coefs: Array[Int] = null
    var blocksW = 0; var blocksH = 0 // padded (interleaved MCU) grid
    var realBw = 0; var realBh = 0   // ceil(compW/8) x ceil(compH/8)
    var sawDc = false

    /** Transform one dequantized block into whichever plane is allocated. */
    def idct(coef: Array[Int], tmp: Array[Double], bx: Int, by: Int): Unit =
      if (raw != null) idctBlockRaw(coef, tmp, raw, planeW, bx, by)
      else idctBlock(coef, tmp, plane, planeW, bx, by)
  }

  /** One frame (SOF): the coding process, read from the SOF marker's low
    * nibble (T.81 table B.1 — bits 0-1 sequential/extended/progressive/
    * lossless, bit 2 differential, bit 3 arithmetic), and the MCU grid
    * that lays out every component's planes. */
  private[multimodal] final class Frame(sof: Int, val precision: Int,
      val width: Int, val height: Int, val comps: Array[Component]) {
    val progressive: Boolean = (sof & 3) == 2
    val lossless: Boolean = (sof & 3) == 3
    val differential: Boolean = (sof & 4) != 0
    val arith: Boolean = (sof & 8) != 0
    val maxDcCat: Int = if (precision == 12) 15 else 11 // T.81 table F.1
    val hMax: Int = comps.map(_.h).max
    val vMax: Int = comps.map(_.v).max
    val mcusX: Int = (width + 8 * hMax - 1) / (8 * hMax)
    val mcusY: Int = (height + 8 * vMax - 1) / (8 * vMax)
    comps.foreach { c =>
      c.planeW = mcusX * c.h * 8
      c.planeH = mcusY * c.v * 8
      c.blocksW = mcusX * c.h
      c.blocksH = mcusY * c.v
      val compW = (width * c.h + hMax - 1) / hMax
      val compH = (height * c.v + vMax - 1) / vMax
      c.realBw = (compW + 7) / 8
      c.realBh = (compH + 7) / 8
    }
  }

  /** Decodes scan component `ci`'s block (bx, by); false on corruption. */
  private abstract class BlockUnit {
    def apply(ci: Int, c: Component, bx: Int, by: Int): Boolean
  }

  /** Visit a scan's data units in T.81 A.2 order. A single-component
    * scan is NON-interleaved: one 8x8 data unit per MCU, row-major over
    * the component's real block grid — the declared sampling factors
    * play no role in its layout. Several components interleave in MCUs
    * of h x v blocks each. At every `interval`-th unit boundary (0 =
    * none) `restart` runs first; false from it or from `unit` aborts. */
  private def walkScan(f: Frame, scanComps: Array[Component], interval: Int,
      restart: () => Boolean, unit: BlockUnit): Boolean = {
    if (scanComps.length == 1) {
      val c = scanComps(0)
      val total = c.realBw * c.realBh
      var blk = 0
      while (blk < total) {
        if (interval > 0 && blk > 0 && blk % interval == 0 && !restart()) return false
        if (!unit(0, c, blk % c.realBw, blk / c.realBw)) return false
        blk += 1
      }
    } else {
      val total = f.mcusX * f.mcusY
      var mcu = 0
      while (mcu < total) {
        if (interval > 0 && mcu > 0 && mcu % interval == 0 && !restart()) return false
        val mx = mcu % f.mcusX; val my = mcu / f.mcusX
        var ci = 0
        while (ci < scanComps.length) {
          val c = scanComps(ci)
          var byy = 0
          while (byy < c.v) {
            var bxx = 0
            while (bxx < c.h) {
              if (!unit(ci, c, mx * c.h + bxx, my * c.v + byy)) return false
              bxx += 1
            }
            byy += 1
          }
          ci += 1
        }
        mcu += 1
      }
    }
    true
  }

  /** A sequential Huffman scan (baseline / extended, T.81 F.2.2) over
    * every frame component, full band, restart intervals honoured: each
    * block is dequantized and transformed into its component's plane.
    * Returns the position of the marker ending the entropy segment, or
    * -1 on a missing table or corruption. */
  private[multimodal] def sequentialScan(b: Array[Byte], entry: Int, t: Tables,
      f: Frame): Int = {
    if (f.comps.exists(c => t.qt(c.tq) == null || t.dcTabs(c.td) == null ||
        t.acTabs(c.ta) == null)) return -1
    val br = new BitReader(b, entry)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](128)
    def block(c: Component, bx: Int, by: Int): Boolean = {
      java.util.Arrays.fill(coef, 0)
      val q = t.qt(c.tq)
      val cat = t.dcTabs(c.td).decode(br)
      if (cat < 0 || cat > f.maxDcCat) return false
      val diffBits = br.receive(cat)
      if (diffBits == Int.MinValue) return false
      c.dcPred += extend(diffBits, cat)
      coef(0) = c.dcPred * q(0)
      var k = 1
      var done = false
      while (!done && k < 64) {
        val rs = t.acTabs(c.ta).decode(br)
        if (rs < 0) return false
        val r = rs >> 4; val s = rs & 15
        if (s == 0) {
          if (r == 15) k += 16 else done = true // ZRL vs EOB
        } else {
          k += r
          if (k > 63) return false
          val vv = br.receive(s)
          if (vv == Int.MinValue) return false
          coef(Zigzag(k)) = extend(vv, s) * q(k)
          k += 1
        }
      }
      c.idct(coef, tmp, bx, by)
      true
    }

    val restart = () => br.restart() && { f.comps.foreach(_.dcPred = 0); true }
    val ok = walkScan(f, f.comps, t.restartInterval, restart,
      (_, c, bx, by) => block(c, bx, by))
    if (ok) br.segmentEnd() else -1
  }

  /** A sequential arithmetic scan (T.81 F.1.4.4 statistics over the
    * Annex D/E QM coder) over every frame component, full band. Restart
    * markers per E.2.4: each interval is its own entropy segment — the
    * QM decoder re-initializes after the RSTn (numbered mod 8) and ALL
    * statistics bins, conditioning contexts and DC predictions reset.
    * Returns the position of the marker ending the last segment, or -1. */
  private[multimodal] def sequentialArithScan(b: Array[Byte], entry: Int,
      t: Tables, f: Frame): Int = {
    if (f.comps.exists(c => t.qt(c.tq) == null)) return -1
    var dec: QmCoder.Decoder = null
    var dcSt: Array[QmCoder.DcState] = null
    var acSt: Array[QmCoder.AcState] = null
    def startSegment(at: Int): Unit = {
      dec = new QmCoder.Decoder(b, at)
      dcSt = f.comps.map(c => new QmCoder.DcState(t.dcCondL(c.td), t.dcCondU(c.td)))
      acSt = f.comps.map(c => new QmCoder.AcState(t.acCondK(c.ta)))
    }
    startSegment(entry)
    var nextRst = 0
    val restart = () => {
      val p = nextMarker(b, dec.bytePos)
      p >= 0 && u8(b, p + 1) == 0xd0 + nextRst && {
        nextRst = (nextRst + 1) % 8
        startSegment(p + 2)
        true
      }
    }
    val czig = new Array[Int](64)
    val coef = new Array[Int](64)
    val tmp = new Array[Double](128)
    def block(ci: Int, c: Component, bx: Int, by: Int): Boolean = {
      java.util.Arrays.fill(czig, 0)
      val q = t.qt(c.tq)
      if (!QmCoder.decodeDc(dec, dcSt(ci))) return false
      if (!QmCoder.decodeAc(dec, acSt(ci), czig)) return false
      java.util.Arrays.fill(coef, 0)
      coef(0) = dcSt(ci).pred * q(0)
      var k = 1
      while (k < 64) { coef(Zigzag(k)) = czig(k) * q(k); k += 1 }
      c.idct(coef, tmp, bx, by)
      true
    }

    val ok = walkScan(f, f.comps, t.restartInterval, restart, block(_, _, _, _))
    if (ok) nextMarker(b, dec.bytePos) else -1
  }

  /** One progressive scan (T.81 G.1 Huffman or G.2 arithmetic, as the
    * frame says) into the scan components' coefficient stores: a DC scan
    * (Ss = 0, interleaved when the SOS lists several components) or a
    * single-component AC band scan, first (Ah = 0) or refinement pass.
    * Coefficients accumulate RAW (unquantized, successively
    * approximated); [[reconstruct]] dequantizes and transforms them once
    * the frame is complete. Returns the position of the marker ending
    * the scan, or -1 on an invalid scan header, a missing table or
    * corruption (fail closed). */
  private[multimodal] def progressiveScan(b: Array[Byte], entry: Int, t: Tables,
      f: Frame, scanComps: Array[Component], ss: Int, se: Int, ah: Int,
      al: Int): Int = {
    // scan-header validity (T.81 G.1): the DC band is exactly [0,0] and
    // may interleave components; AC bands are single-component; a
    // refinement pass lowers Al by exactly 1; every component's first
    // scan must be a first DC scan
    if (ss == 0) { if (se != 0) return -1 }
    else if (scanComps.length != 1 || se < ss || se > 63) return -1
    if (al > 13 || (ah != 0 && ah != al + 1)) return -1
    if (ss == 0 && ah > 0 && scanComps.exists(!_.sawDc)) return -1
    if (ss > 0 && !scanComps(0).sawDc) return -1
    scanComps.foreach { sc =>
      if (sc.coefs == null) sc.coefs = new Array[Int](sc.planeW * sc.planeH)
    }
    if (f.arith) {
      // SOF10: restart markers are out of remit
      if (t.restartInterval != 0) return -1
      progressiveArithScan(b, entry, t, f, scanComps, ss, se, ah, al)
    } else {
      if (ss == 0 && ah == 0 && scanComps.exists(sc => t.dcTabs(sc.td) == null)) return -1
      if (ss > 0 && t.acTabs(scanComps(0).ta) == null) return -1
      progressiveHuffScan(b, entry, t, f, scanComps, ss, se, ah, al)
    }
  }

  private def progressiveHuffScan(b: Array[Byte], entry: Int, t: Tables,
      f: Frame, scanComps: Array[Component], ss: Int, se: Int, ah: Int,
      al: Int): Int = {
    val br = new BitReader(b, entry)
    var eobrun = 0
    val p1 = 1 << al

    def refineOne(coefs: Array[Int], idx: Int): Boolean = {
      val cv = coefs(idx)
      val bit = br.nextBit()
      if (bit < 0) return false
      if (bit != 0 && (cv & p1) == 0)
        coefs(idx) = if (cv >= 0) cv + p1 else cv - p1
      true
    }

    def dcUnit(c: Component, off: Int): Boolean = {
      if (ah == 0) {
        val s = t.dcTabs(c.td).decode(br)
        if (s < 0 || s > f.maxDcCat) return false
        val d = br.receive(s)
        if (d == Int.MinValue) return false
        c.dcPred += extend(d, s)
        c.coefs(off) = c.dcPred << al
        c.sawDc = true
      } else {
        // refinement: one raw bit of the two's-complement DC value
        val bit = br.nextBit()
        if (bit < 0) return false
        if (bit != 0) c.coefs(off) |= p1
      }
      true
    }

    def acFirstUnit(c: Component, off: Int): Boolean = {
      if (eobrun > 0) { eobrun -= 1; return true }
      var k = ss
      while (k <= se) {
        val rs = t.acTabs(c.ta).decode(br)
        if (rs < 0) return false
        val r = rs >> 4; val s = rs & 15
        if (s == 0) {
          if (r == 15) k += 16 // ZRL
          else {
            eobrun = (1 << r) - 1 // EOBn: run of (1<<r)+ext all-EOB blocks
            if (r > 0) {
              val eb = br.receive(r)
              if (eb == Int.MinValue) return false
              eobrun += eb
            }
            return true
          }
        } else {
          k += r
          if (k > se) return false
          val v = br.receive(s)
          if (v == Int.MinValue) return false
          c.coefs(off + Zigzag(k)) = extend(v, s) << al
          k += 1
        }
      }
      true
    }

    // T.81 G.1.2.3 / libjpeg decode_mcu_AC_refine: zero-history
    // coefficients take new ±(1<<al) values; nonzero-history ones
    // consume a correction bit whenever the scan passes over them
    def acRefineUnit(c: Component, off: Int): Boolean = {
      val coefs = c.coefs
      var k = ss
      if (eobrun == 0) {
        var atEob = false
        while (!atEob && k <= se) {
          val rs = t.acTabs(c.ta).decode(br)
          if (rs < 0) return false
          var r = rs >> 4; val s = rs & 15
          var newVal = 0
          if (s == 0) {
            if (r < 15) {
              eobrun = 1 << r
              if (r > 0) {
                val eb = br.receive(r)
                if (eb == Int.MinValue) return false
                eobrun += eb
              }
              atEob = true
            }
            // r == 15 (ZRL): pass 16 zero-history coefficients
          } else {
            if (s != 1) return false // refinement values are ±1 only
            val bit = br.nextBit()
            if (bit < 0) return false
            newVal = if (bit != 0) p1 else -p1
          }
          if (!atEob) {
            var placed = false
            while (!placed && k <= se) {
              val z = Zigzag(k)
              if (coefs(off + z) != 0) {
                if (!refineOne(coefs, off + z)) return false
              } else if (r == 0) {
                if (newVal != 0) coefs(off + z) = newVal
                placed = true
              } else r -= 1
              k += 1
            }
            if (!placed && newVal != 0) return false // ran past se
          }
        }
      }
      if (eobrun > 0) {
        while (k <= se) { // correction bits for the block's remainder
          val z = Zigzag(k)
          if (coefs(off + z) != 0 && !refineOne(coefs, off + z)) return false
          k += 1
        }
        eobrun -= 1
      }
      true
    }

    scanComps.foreach(_.dcPred = 0) // predictors reset per scan (F.2.1.3.1)
    val restart = () => br.restart() && {
      scanComps.foreach(_.dcPred = 0)
      eobrun = 0
      true
    }
    val ok = walkScan(f, scanComps, t.restartInterval, restart, (_, c, bx, by) => {
      val off = (by * c.blocksW + bx) * 64
      if (ss == 0) dcUnit(c, off)
      else if (ah == 0) acFirstUnit(c, off)
      else acRefineUnit(c, off)
    })
    if (ok) br.segmentEnd() else -1
  }

  /** One SOF10 (arithmetic progressive, T.81 G.2) scan: the Annex F
    * QM statistical models over the same coefficient store and walk
    * as the Huffman scans — DC first via F.1.4.4.1 on the
    * point-transformed values, DC refinement as one fixed-state
    * decision per block, AC first via the band-limited sequential
    * model, AC refinement via the G.2.3 correction model. Statistics
    * and the entropy coder reset per scan (each scan is its own
    * segment). */
  private def progressiveArithScan(b: Array[Byte], entry: Int, t: Tables,
      f: Frame, scanComps: Array[Component], ss: Int, se: Int, ah: Int,
      al: Int): Int = {
    val dec = new QmCoder.Decoder(b, entry)
    val p1 = 1 << al
    val czig = new Array[Int](64)
    val dcSt =
      if (ss == 0 && ah == 0)
        scanComps.map(c => new QmCoder.DcState(t.dcCondL(c.td), t.dcCondU(c.td)))
      else null
    val fixed = if (ss == 0 && ah > 0) QmCoder.fixedBin() else null
    val acSt =
      if (ss > 0) new QmCoder.AcState(t.acCondK(scanComps(0).ta)) else null

    def unit(ci: Int, c: Component, bx: Int, by: Int): Boolean = {
      val off = (by * c.blocksW + bx) * 64
      if (ss == 0) {
        if (ah == 0) {
          if (!QmCoder.decodeDc(dec, dcSt(ci))) return false
          c.coefs(off) = dcSt(ci).pred << al
          c.sawDc = true
        } else if (dec.decode(fixed) == 1) c.coefs(off) |= p1
        true
      } else {
        // zigzag view of the block's band, refined/filled in place
        var k = ss
        while (k <= se) { czig(k) = c.coefs(off + Zigzag(k)); k += 1 }
        val ok =
          if (ah == 0) QmCoder.decodeAcBand(dec, acSt, czig, ss, se, al)
          else QmCoder.decodeAcRefine(dec, acSt, czig, ss, se, al)
        if (!ok) return false
        k = ss
        while (k <= se) { c.coefs(off + Zigzag(k)) = czig(k); k += 1 }
        true
      }
    }

    val ok = walkScan(f, scanComps, 0, () => true, unit(_, _, _, _))
    if (ok) nextMarker(b, dec.bytePos) else -1
  }

  /** Progressive frame close: dequantize every component's coefficient
    * store and transform it into the component's plane. False if some
    * component never had its first DC scan or lacks its table. */
  private[multimodal] def reconstruct(t: Tables, f: Frame): Boolean = {
    val coef = new Array[Int](64)
    val tmp = new Array[Double](128)
    f.comps.forall { c =>
      val q = t.qt(c.tq)
      c.coefs != null && c.sawDc && q != null && {
        var by = 0
        while (by < c.blocksH) {
          var bx = 0
          while (bx < c.blocksW) {
            val off = (by * c.blocksW + bx) * 64
            var k = 0
            while (k < 64) {
              val z = Zigzag(k)
              coef(z) = c.coefs(off + z) * q(k) // q is zigzag-ordered
              k += 1
            }
            c.idct(coef, tmp, bx, by)
            bx += 1
          }
          by += 1
        }
        true
      }
    }
  }

  /** One lossless scan (T.81 Annex H): Huffman-coded prediction
    * DIFFERENCES — no DCT, no quantization, so dimensions need not be
    * block multiples and every sample is exact. Samples are raster
    * ordered, one per scan component per MCU (1x1, H.2), each predicted
    * from its own plane in `planes` (one width x height raster per scan
    * component). Ss selects the predictor (1..7) and Al is the point
    * transform; Ss = 0 is a differential frame's scan (T.81 Annex J:
    * no prediction, the difference is the sample). Remit: no restart
    * markers. Returns the position of the marker ending the entropy
    * segment, or -1. */
  private[multimodal] def losslessScan(b: Array[Byte], entry: Int, t: Tables,
      f: Frame, scanComps: Array[Component], ss: Int, se: Int, ah: Int,
      al: Int, planes: Array[Array[Int]]): Int = {
    if (t.restartInterval != 0) return -1
    if (ss > 7 || (ss == 0) != f.differential || se != 0 || ah != 0 || al > 7) return -1
    val dc = scanComps.map(c => t.dcTabs(c.td))
    if (dc.contains(null)) return -1
    val br = new BitReader(b, entry)
    val w = f.width
    val defaultPred = 1 << (7 - al)
    var y = 0
    while (y < f.height) {
      var x = 0
      while (x < w) {
        var ci = 0
        while (ci < dc.length) {
          val s = dc(ci).decode(br)
          if (s < 0 || s > 16) return -1
          val diff =
            if (s == 0) 0
            else if (s == 16) 32768 // T.81 H.2: category 16 carries no bits
            else {
              val v = br.receive(s)
              if (v == Int.MinValue) return -1
              extend(v, s)
            }
          // T.81 H.1.2: first sample predicts the midpoint; the rest
          // of the first LINE predicts Ra; first COLUMN predicts Rb;
          // everywhere else the scan-selected predictor, over
          // RECONSTRUCTED neighbors in the point-transformed domain.
          // /2 is an arithmetic shift right per the spec note.
          val raster = planes(ci)
          val px =
            if (ss == 0) 0
            else if (x == 0 && y == 0) defaultPred
            else if (y == 0) raster(x - 1)
            else if (x == 0) raster((y - 1) * w)
            else {
              val ra = raster(y * w + x - 1)
              val rb = raster((y - 1) * w + x)
              val rc = raster((y - 1) * w + x - 1)
              ss match {
                case 1 => ra
                case 2 => rb
                case 3 => rc
                case 4 => ra + rb - rc
                case 5 => ra + ((rb - rc) >> 1)
                case 6 => rb + ((ra - rc) >> 1)
                case _ => (ra + rb) >> 1
              }
            }
          raster(y * w + x) = (px + diff) & 0xffff // modulo 2^16
          ci += 1
        }
        x += 1
      }
      y += 1
    }
    br.segmentEnd()
  }

  /** 12-bit emission (shared by the SOF1 and SOF10-12-bit exits): level
    * shift 2048, clamp to 12 bits; for color, the JFIF YCbCr→RGB
    * transform runs in the 12-BIT domain (neutral chroma 2048) BEFORE
    * the top-8-bit cut — transforming after the cut would quantize the
    * chroma contribution 16× coarser than the samples carry. Expects
    * each component's `raw` plane filled with UNSHIFTED samples. */
  private def emit12Rgb(f: Frame): HeaderCodec.Pixels = {
    val comps = f.comps; val width = f.width; val height = f.height
    val rgb = new Array[Byte](3 * width * height)
    def sample12(ci: Int, x: Int, y: Int): Int = {
      val raw = 2048 + comps(ci).raw(y * comps(ci).planeW + x)
      if (raw < 0) 0 else if (raw > 4095) 4095 else raw
    }
    var yy = 0
    while (yy < height) {
      var xx = 0
      while (xx < width) {
        val o = 3 * (yy * width + xx)
        if (comps.length == 1) {
          val v = (sample12(0, xx, yy) >> 4).toByte
          rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
        } else {
          val lum = sample12(0, xx, yy)
          val cbv = sample12(1, xx, yy) - 2048
          val crv = sample12(2, xx, yy) - 2048
          def emit(v: Double): Byte = {
            val r = math.round(v).toInt
            val c = if (r < 0) 0 else if (r > 4095) 4095 else r
            (c >> 4).toByte
          }
          rgb(o) = emit(lum + 1.402 * crv)
          rgb(o + 1) = emit(lum - 0.344136 * cbv - 0.714136 * crv)
          rgb(o + 2) = emit(lum + 1.772 * cbv)
        }
        xx += 1
      }
      yy += 1
    }
    HeaderCodec.Pixels(width, height, rgb)
  }

  /** Upsample component planes to the frame grid and convert to RGB —
    * grayscale copies Y, color runs the JFIF YCbCr transform; 12-bit
    * frames go through [[emit12Rgb]]. */
  private def assembleRgb(f: Frame): HeaderCodec.Pixels = {
    if (f.precision == 12) return emit12Rgb(f)
    val width = f.width; val height = f.height
    val rgb = new Array[Byte](3 * width * height)
    val y = f.comps(0)
    if (f.comps.length == 1) {
      var yy = 0
      while (yy < height) {
        var xx = 0
        while (xx < width) {
          val v = y.plane(yy * y.planeW + xx)
          val o = 3 * (yy * width + xx)
          rgb(o) = v; rgb(o + 1) = v; rgb(o + 2) = v
          xx += 1
        }
        yy += 1
      }
    } else {
      val cb = f.comps(1); val cr = f.comps(2)
      def at(c: Component, xx: Int, yy: Int): Int =
        c.plane((yy * c.v / f.vMax) * c.planeW + (xx * c.h / f.hMax)) & 0xff
      var yy = 0
      while (yy < height) {
        var xx = 0
        while (xx < width) {
          putYcc(rgb, 3 * (yy * width + xx), at(y, xx, yy), at(cb, xx, yy),
            at(cr, xx, yy))
          xx += 1
        }
        yy += 1
      }
    }
    HeaderCodec.Pixels(width, height, rgb)
  }

  def decodeJpegPixels(b: Array[Byte]): Option[HeaderCodec.Pixels] = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    val t = new Tables
    var f: Frame = null
    var sawScan = false
    var i = 2

    while (true) {
      if (i < 0 || i + 2 > b.length) return None
      if (u8(b, i) != 0xff) return None
      var marker = u8(b, i + 1)
      while (marker == 0xff && i + 2 < b.length) { i += 1; marker = u8(b, i + 1) } // fill bytes
      // standalone markers (SOI/EOI/RSTn) carry no length field; anything
      // else needs 2 more bytes for it — re-checked after fill-byte
      // skipping, where a 0xFF run ending near EOF would otherwise read a
      // length field past the buffer (fuzz-caught)
      val standalone = marker == 0xd8 || marker == 0xd9 ||
        (marker >= 0xd0 && marker <= 0xd7)
      if (i + 2 > b.length || (!standalone && i + 4 > b.length)) return None
      val segStart = i + 2
      marker match {
        case 0xd8 => i += 2 // stray SOI
        case m if m >= 0xd0 && m <= 0xd7 => i += 2 // stray RSTn (standalone)
        case 0xdb => i = t.dqt(b, segStart)
        case 0xc4 => i = t.dht(b, segStart)
        case 0xcc => i = t.dac(b, segStart)
        case 0xdd => i = t.dri(b, segStart)
        case m if m == 0xc0 || m == 0xc1 || m == 0xc2 || m == 0xc3 ||
            m == 0xc9 || m == 0xca =>
          // SOF0 baseline / SOF1 extended sequential (8- or 12-bit) /
          // SOF2 progressive / SOF3 lossless / SOF9 arithmetic
          // sequential / SOF10 arithmetic progressive
          if (f != null) return None // second frame header
          val len = be16(b, segStart)
          if (segStart + len > b.length || len < 8) return None
          val precision = u8(b, segStart + 2)
          val height = be16(b, segStart + 3); val width = be16(b, segStart + 5)
          val nc = u8(b, segStart + 7)
          // 12-bit remit (T.81 table 1): every DCT-based frame type —
          // extended sequential (SOF1), progressive (SOF2), sequential
          // arithmetic (SOF9), progressive arithmetic (SOF10) —
          // grayscale or 4:4:4 color; lossless (SOF3) and baseline
          // (SOF0) stay 8-bit (baseline is 8-bit BY DEFINITION)
          if (precision == 12) {
            if ((m != 0xc1 && m != 0xc2 && m != 0xc9 && m != 0xca) ||
                (nc != 1 && nc != 3)) return None
          } else if (precision != 8) return None
          if (width <= 0 || height <= 0) return None
          if (nc != 1 && nc != 3) return None
          if (len < 8 + 3 * nc) return None
          val comps = Array.tabulate(nc) { c =>
            val o = segStart + 8 + 3 * c
            val comp = Component(u8(b, o), u8(b, o + 1) >> 4, u8(b, o + 1) & 15,
              u8(b, o + 2))
            if (comp.h < 1 || comp.h > 2 || comp.v < 1 || comp.v > 2 ||
                comp.tq > 3) return None
            comp
          }
          // T.81 A.2: a single-component scan is NON-interleaved, so a
          // grayscale file declaring Hi=Vi=2 must decode exactly like one
          // declaring 1x1; treating it as interleaved would silently emit
          // blocks in the wrong spatial order whenever w,h are multiples
          // of 16.
          if (nc == 1) comps(0) = comps(0).copy(h = 1, v = 1)
          // 12-bit color remit is 4:4:4 — the 12-bit assembly reads
          // full-resolution planes per component
          if (precision == 12 && comps.exists(c => c.h != 1 || c.v != 1)) return None
          f = new Frame(m, precision, width, height, comps)
          i = segStart + len
        case m if m >= 0xc1 && m <= 0xcf && m != 0xc4 && m != 0xc8 =>
          return None // other extended modes: unsupported
        case 0xde => // DHP: the stream is hierarchical (T.81 Annex J) —
          // hand the WHOLE stream to the multi-frame driver. Before this
          // dispatch existed, the skip-unknown-segment default silently
          // decoded just the base frame of a pyramid and returned it as
          // the image — wrong output, not fail-closed.
          if (f != null) return None // DHP must precede frames
          return HierJpeg.decode(b)
        case 0xdf => // EXP outside a hierarchical stream: malformed
          return None
        case 0xda => // SOS
          if (f == null) return None
          val len = be16(b, segStart)
          if (segStart + len > b.length) return None
          val ns = u8(b, segStart + 2)
          if (ns < 1 || ns > f.comps.length || len < 6 + 2 * ns) return None
          val scanComps = new Array[Component](ns)
          var c = 0
          while (c < ns) {
            val cs = u8(b, segStart + 3 + 2 * c)
            val comp = f.comps.find(_.id == cs).getOrElse(return None)
            comp.td = u8(b, segStart + 4 + 2 * c) >> 4
            comp.ta = u8(b, segStart + 4 + 2 * c) & 15
            if (comp.td > 3 || comp.ta > 3) return None
            scanComps(c) = comp
            c += 1
          }
          val ss = u8(b, segStart + 3 + 2 * ns)
          val se = u8(b, segStart + 4 + 2 * ns)
          val ah = u8(b, segStart + 5 + 2 * ns) >> 4
          val al = u8(b, segStart + 5 + 2 * ns) & 15
          val entry = segStart + len
          if (!sawScan) {
            // SOF-claimed size is attacker-controlled: bound total pixels
            // by the entropy data actually present before any plane or
            // coefficient store allocates (a DC-only block is >= 2 bits
            // per 64 pixels; 2048 px/byte is generous)
            val totalPx = f.width.toLong * f.height
            if (totalPx > Int.MaxValue / 8 ||
                totalPx > (b.length - entry).toLong * 2048L + 4096L) return None
            f.comps.foreach { cc =>
              if (cc.planeW.toLong * cc.planeH > totalPx * 4 + 65536) return None
            }
            // 12-bit DCT frames reconstruct into unshifted Int planes and
            // exit through the 12-bit emission; lossless needs no plane
            if (!f.lossless) f.comps.foreach { cc =>
              if (f.precision == 12) cc.raw = new Array[Int](cc.planeW * cc.planeH)
              else cc.plane = new Array[Byte](cc.planeW * cc.planeH)
            }
            sawScan = true
          }
          if (f.progressive) {
            // resume the marker loop at the marker ending the scan
            i = progressiveScan(b, entry, t, f, scanComps, ss, se, ah, al)
          } else {
            // single-scan frames: one scan over every component (lossless
            // 3-component scans 1x1 with no point transform, H.2), then
            // EOI — a file cut after the last MCU but before EOI is
            // damaged, not decodable-by-luck
            if (ns != f.comps.length) return None
            if (f.lossless && ns == 3 &&
                (f.comps.exists(cc => cc.h != 1 || cc.v != 1) || al != 0)) return None
            if (f.arith && (ss != 0 || se != 63 || ah != 0 || al != 0)) return None
            val planes =
              if (f.lossless) Array.fill(ns)(new Array[Int](f.width * f.height)) else null
            val end =
              if (f.lossless)
                losslessScan(b, entry, t, f, scanComps, ss, se, ah, al, planes)
              else if (f.arith) sequentialArithScan(b, entry, t, f)
              else sequentialScan(b, entry, t, f)
            // (a lone 0xFF as the last byte reads as EOI, as in segmentEnd)
            if (end < 0 || (end + 1 < b.length && u8(b, end + 1) != 0xd9)) return None
            if (!f.lossless) return Some(assembleRgb(f))
            val rgb = new Array[Byte](3 * f.width * f.height)
            var p = 0
            while (p < f.width * f.height) {
              if (ns == 1) {
                val v = ((planes(0)(p) << al) & 0xff).toByte
                rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
              } else putYcc(rgb, 3 * p, planes(0)(p) & 0xff, planes(1)(p) & 0xff,
                planes(2)(p) & 0xff)
              p += 1
            }
            return Some(HeaderCodec.Pixels(f.width, f.height, rgb))
          }
        case 0xd9 => // EOI: for progressive, coefficients are complete now
          if (f == null || !f.progressive || !sawScan || !reconstruct(t, f)) return None
          return Some(assembleRgb(f))
        case _ => i = skipSegment(b, segStart) // APPn / COM
      }
    }
    None // unreachable: the loop exits only via return
  }

  def decodeJpeg(b: Array[Byte]): Option[HeaderCodec.PixelStats] =
    decodeJpegPixels(b).map(HeaderCodec.statsOf)
}
