package graft.multimodal

import JpegCodec.{Component, Frame, Tables, be16, clamp255, losslessScan,
  progressiveScan, putYcc, reconstruct, sequentialArithScan, sequentialScan,
  skipSegment, u8}

/** Hierarchical JPEG decode (ITU T.81 Annex J): a DHP-framed pyramid of
  * frames, each either non-differential (codes the image, possibly at
  * reduced resolution) or differential (codes a correction added to the
  * reference built from prior frames), with EXP reference doubling
  * between frames (J.1.1.2 interpolation: out(2u)=in(u),
  * out(2u+1)=(in(u)+in(u+1)+1)>>1, last column/row replicated; when both
  * dimensions expand, horizontal runs first — with the +1 rounding the
  * order is observable, so it is pinned here and in the encoder/oracle).
  *
  * Remit (the rest falls to the deterministic stub via None):
  *  - frames: SOF0 (sequential DCT) and SOF3 (lossless) non-differential;
  *    SOF5 (differential sequential DCT) and SOF7 (differential lossless);
  *    SOF9 (sequential DCT, arithmetic) and SOF13 (differential
  *    sequential DCT, arithmetic — F.1.4.4 QM models, DAC conditioning
  *    honored); progressive SOF2/SOF6 (Huffman) and SOF10/SOF14
  *    (arithmetic), whose frames stay open across their scans; 8-bit
  *    precision and 8-bit (Pq=0) quantization tables;
  *  - all components 1x1 sampling inside hierarchical frames, one SOS per
  *    sequential frame covering all of its components, no restart
  *    markers, no point transform outside progressive scans;
  *  - differential lossless scans use no prediction (T.81: Ss=0 in
  *    differential frames) and add modulo 2^16 to the reference (J.2.3);
  *    DCT frames merge with the +128 level shift (non-differential) or a
  *    plain signed add (differential) and clamp to [0,255] — references
  *    for DCT hierarchies are P-precision sample arrays.
  *
  * Layers: this decoder owns only what is hierarchical — DHP and EXP
  * (with the J.1.1.2 expansion), frame bookkeeping, the reference merge
  * and the EOI assembly. Table parsing, entropy decoding, scan walking,
  * the IDCT and the colour transform are [[JpegCodec]]'s: a frame here is
  * a [[JpegCodec.Frame]] of 1x1 components decoded by the same scan
  * decoders as a single-frame stream, into unshifted Int planes. This
  * loop applies its narrower remit after the shared table parsers and
  * resumes at the marker each scan stops on instead of requiring EOI.
  *
  * Forged-header safety mirrors the single-frame path: the DHP-claimed
  * pixel count is capped against the actual byte length before any
  * reference plane allocates.
  */
object HierJpeg {

  /** One reference component: real (unpadded) dims + full-precision
    * samples. */
  private final class Ref(var w: Int, var h: Int, var s: Array[Int])

  /** J.1.1.2 doubling along one axis (horizontal when `horiz`). */
  private def expand1d(in: Array[Int], w: Int, h: Int, horiz: Boolean): Array[Int] =
    if (horiz) {
      val out = new Array[Int](2 * w * h)
      var y = 0
      while (y < h) {
        var x = 0
        while (x < w) {
          val a = in(y * w + x)
          val b = in(y * w + math.min(x + 1, w - 1))
          out(y * 2 * w + 2 * x) = a
          out(y * 2 * w + 2 * x + 1) = (a + b + 1) >> 1
          x += 1
        }
        y += 1
      }
      out
    } else {
      val out = new Array[Int](w * 2 * h)
      var y = 0
      while (y < h) {
        val yn = math.min(y + 1, h - 1)
        var x = 0
        while (x < w) {
          val a = in(y * w + x)
          val b = in(yn * w + x)
          out(2 * y * w + x) = a
          out((2 * y + 1) * w + x) = (a + b + 1) >> 1
          x += 1
        }
        y += 1
      }
      out
    }

  def decode(b: Array[Byte]): Option[HeaderCodec.Pixels] = {
    if (b.length < 4 || u8(b, 0) != 0xff || u8(b, 1) != 0xd8) return None
    val t = new Tables
    var fullW = 0; var fullH = 0
    var dhpIds: Array[Int] = null
    // insertion-ordered: assembly order is the DHP component order
    val refs = scala.collection.mutable.LinkedHashMap.empty[Int, Ref]
    // the open frame: from its SOF to the end of its single scan, or for
    // a progressive frame (SOF2/SOF6/SOF10/SOF14) across its scans until
    // the next frame-level marker
    var f: Frame = null
    var i = 2

    /** Merge one decoded component plane (row stride `stride`) into its
      * reference: a non-differential frame creates it — DCT samples take
      * the +128 level shift and the [0,255] clamp — and a differential
      * frame adds its correction, modulo 2^16 for lossless (J.2.3) or
      * clamped for DCT. */
    def merge(id: Int, plane: Array[Int], stride: Int): Boolean = {
      val w = f.width; val h = f.height
      if (f.differential) {
        val r = refs.getOrElse(id, return false)
        if (r.w != w || r.h != h) return false
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = r.s(y * w + x) + plane(y * stride + x)
            r.s(y * w + x) = if (f.lossless) v & 0xffff else clamp255(v)
            x += 1
          }
          y += 1
        }
      } else {
        if (refs.contains(id)) return false // second non-differential pass
        val out = new Array[Int](w * h)
        var y = 0
        while (y < h) {
          var x = 0
          while (x < w) {
            val v = plane(y * stride + x)
            out(y * w + x) = if (f.lossless) v else clamp255(128 + v)
            x += 1
          }
          y += 1
        }
        refs(id) = new Ref(w, h, out)
      }
      true
    }

    /** A frame-level marker (EXP, SOF, EOI) ends the open frame. A
      * progressive one is reconstructed and merged now — the
      * single-frame path's deferred EOI step, relocated, since a
      * hierarchy continues after the frame; a sequential frame still
      * open never got its scan. */
    def closeFrame(): Boolean = {
      if (f == null) return true
      if (!f.progressive || !reconstruct(t, f) ||
          !f.comps.forall(c => merge(c.id, c.raw, c.planeW))) return false
      f = null
      true
    }

    while (i + 1 < b.length) {
      if (u8(b, i) != 0xff) return None
      val marker = u8(b, i + 1)
      i += 2
      if (marker == 0xd8) return None // second SOI
      val segStart = i
      // every marker below except EOI carries a 2-byte length field — a
      // file truncated right after the marker pair must fail closed, not
      // read past the end
      if (marker != 0xd9 && segStart + 2 > b.length) return None
      marker match {
        case 0xde => // DHP: same syntax as SOF (B.3.2)
          if (dhpIds != null || f != null) return None
          val len = be16(b, segStart)
          if (segStart + len > b.length || len < 8) return None
          if (u8(b, segStart + 2) != 8) return None // precision
          fullH = be16(b, segStart + 3); fullW = be16(b, segStart + 5)
          val nc = u8(b, segStart + 7)
          if (fullW <= 0 || fullH <= 0 || (nc != 1 && nc != 3)) return None
          if (len < 8 + 3 * nc) return None
          // DHP-claimed size is attacker-controlled: bound by byte length
          val totalPx = fullW.toLong * fullH
          if (totalPx > Int.MaxValue / 8 ||
              totalPx > b.length.toLong * 2048L + 4096L) return None
          dhpIds = Array.tabulate(nc)(c => u8(b, segStart + 8 + 3 * c))
          if (dhpIds.distinct.length != nc) return None
          i = segStart + len
        // tables: the shared parsers, then this remit's limits — 8-bit
        // quantization tables only, no restart interval
        case 0xdb =>
          i = t.dqt(b, segStart)
          if (i < 0 || t.wideQt) return None
        case 0xc4 =>
          i = t.dht(b, segStart)
          if (i < 0) return None
        case 0xcc =>
          i = t.dac(b, segStart)
          if (i < 0) return None
        case 0xdd =>
          i = t.dri(b, segStart)
          if (i < 0 || t.restartInterval != 0) return None
        case 0xdf => // EXP (B.3.3): expand all references for the next frame
          if (!closeFrame() || dhpIds == null || refs.isEmpty) return None
          val len = be16(b, segStart)
          if (len != 3 || segStart + len > b.length) return None
          val eh = u8(b, segStart + 2) >> 4; val ev = u8(b, segStart + 2) & 15
          if (eh > 1 || ev > 1) return None
          refs.valuesIterator.foreach { r =>
            if (eh == 1) {
              if (r.w.toLong * 2 * r.h > fullW.toLong * fullH * 4 + 65536) return None
              r.s = expand1d(r.s, r.w, r.h, horiz = true); r.w *= 2
            }
            if (ev == 1) {
              if (r.w.toLong * r.h * 2 > fullW.toLong * fullH * 4 + 65536) return None
              r.s = expand1d(r.s, r.w, r.h, horiz = false); r.h *= 2
            }
          }
          i = segStart + len
        case m if m == 0xc0 || m == 0xc2 || m == 0xc3 || m == 0xc5 ||
            m == 0xc6 || m == 0xc7 || m == 0xc9 || m == 0xca ||
            m == 0xcd || m == 0xce =>
          // frame header: SOF0/SOF3 non-differential, SOF5/SOF7
          // differential (Huffman); SOF9 non-differential / SOF13
          // differential sequential DCT with ARITHMETIC coding;
          // PROGRESSIVE multi-scan frames — SOF2 non-differential /
          // SOF6 differential (Huffman) and SOF10 / SOF14 (arithmetic)
          if (dhpIds == null || !closeFrame()) return None
          val len = be16(b, segStart)
          if (segStart + len > b.length || len < 8) return None
          if (u8(b, segStart + 2) != 8) return None
          val fH = be16(b, segStart + 3); val fW = be16(b, segStart + 5)
          val nc = u8(b, segStart + 7)
          if (fW <= 0 || fH <= 0 || fW > fullW || fH > fullH) return None
          if (nc < 1 || nc > dhpIds.length || len < 8 + 3 * nc) return None
          val comps = Array.tabulate(nc) { c =>
            val o = segStart + 8 + 3 * c
            if (!dhpIds.contains(u8(b, o))) return None
            if (u8(b, o + 1) != 0x11) return None // remit: 1x1 sampling
            if (u8(b, o + 2) > 3) return None
            Component(u8(b, o), 1, 1, u8(b, o + 2))
          }
          if (comps.map(_.id).distinct.length != nc) return None
          // 1x1 components over the frame's block grid; DCT frames decode
          // into unshifted Int planes (the shift/clamp happens at merge)
          f = new Frame(m, 8, fW, fH, comps)
          if (!f.lossless) comps.foreach(c => c.raw = new Array[Int](c.planeW * c.planeH))
          i = segStart + len
        case 0xda => // SOS: one scan (single-scan frames list all
          // components; progressive AC band scans are single-component)
          if (f == null) return None
          val len = be16(b, segStart)
          if (segStart + len > b.length) return None
          val nc = f.comps.length
          val ns = u8(b, segStart + 2)
          if (ns < 1 || ns > nc || len < 6 + 2 * ns) return None
          if (!f.progressive && ns != nc) return None
          // full-width scans must list all components in frame order;
          // progressive single-component AC scans may name any of them
          val scanComps = Array.tabulate(ns) { c =>
            val comp = f.comps.find(_.id == u8(b, segStart + 3 + 2 * c))
              .getOrElse(return None)
            if (ns == nc && (comp ne f.comps(c))) return None
            comp.td = u8(b, segStart + 4 + 2 * c) >> 4
            comp.ta = u8(b, segStart + 4 + 2 * c) & 15
            if (comp.td > 3 || comp.ta > 3) return None
            comp
          }
          val ss = u8(b, segStart + 3 + 2 * ns)
          val se = u8(b, segStart + 4 + 2 * ns)
          val ah = u8(b, segStart + 5 + 2 * ns) >> 4
          val al = u8(b, segStart + 5 + 2 * ns) & 15
          val entry = segStart + len
          if (f.progressive) {
            // DC scans interleave every frame component; the frame stays
            // open for its next scan
            if (ss == 0 && ns != nc) return None
            i = progressiveScan(b, entry, t, f, scanComps, ss, se, ah, al)
            if (i < 0) return None
          } else {
            // remit: no point transform or successive approximation
            if (ah != 0 || al != 0) return None
            if (f.lossless) {
              val planes = Array.fill(ns)(new Array[Int](f.width * f.height))
              i = losslessScan(b, entry, t, f, scanComps, ss, se, ah, al, planes)
              if (i < 0 ||
                  !(0 until ns).forall(c => merge(f.comps(c).id, planes(c), f.width)))
                return None
            } else {
              // sequential DCT, full band; differential frames keep the
              // same DC prediction chain as non-differential ones
              if (ss != 0 || se != 63) return None
              i = if (f.arith) sequentialArithScan(b, entry, t, f)
                else sequentialScan(b, entry, t, f)
              if (i < 0 || !f.comps.forall(c => merge(c.id, c.raw, c.planeW))) return None
            }
            // resume the marker loop at the marker the scan stopped on —
            // unlike the single-frame exits this need not be EOI (the
            // hierarchy continues with EXP / the next SOF / EOI)
            f = null
          }
        case 0xd9 => // EOI: every DHP component present at full size
          if (!closeFrame() || dhpIds == null || refs.size != dhpIds.length)
            return None
          dhpIds.foreach { id =>
            val r = refs.getOrElse(id, return None)
            if (r.w != fullW || r.h != fullH) return None
          }
          val rgb = new Array[Byte](3 * fullW * fullH)
          if (dhpIds.length == 1) {
            val s = refs(dhpIds(0)).s
            var p = 0
            while (p < fullW * fullH) {
              val v = clamp255(s(p)).toByte
              rgb(3 * p) = v; rgb(3 * p + 1) = v; rgb(3 * p + 2) = v
              p += 1
            }
          } else {
            val ys = refs(dhpIds(0)).s
            val cbs = refs(dhpIds(1)).s
            val crs = refs(dhpIds(2)).s
            var p = 0
            while (p < fullW * fullH) {
              putYcc(rgb, 3 * p, ys(p), cbs(p), crs(p))
              p += 1
            }
          }
          return Some(HeaderCodec.Pixels(fullW, fullH, rgb))
        case m if m >= 0xc1 && m <= 0xcf =>
          return None // other frame types in a hierarchy: unsupported
        case _ => // APPn / COM
          i = skipSegment(b, segStart)
          if (i < 0) return None
      }
    }
    None
  }
}
