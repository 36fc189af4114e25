package graft.multimodal

import java.io.{ByteArrayOutputStream, DataOutputStream}
import java.security.MessageDigest

import org.scalatest.funsuite.AnyFunSuite

/** Golden pins for the JPEG layer: the exact bytes every MediaSynth JPEG
  * generator writes, and the exact `decodeJpegPixels` outcome — `None`,
  * or width, height and RGB bytes — over a fixed corpus of valid,
  * truncated, bit-flipped and hand-broken streams. The fuzz specs only
  * assert "never throws"; this one pins which streams are accepted,
  * which are rejected, and the pixels of every accepted one. Both digests
  * were recorded from the decoder before its hierarchical part was
  * folded onto the single-frame table, entropy and scan layers. */
class JpegGoldenSpec extends AnyFunSuite {

  private val generators: Seq[Long => Array[Byte]] = Seq(
    MediaSynth.jpeg, MediaSynth.progressiveJpeg, MediaSynth.losslessJpeg,
    MediaSynth.jpeg12, MediaSynth.jpeg12Color, MediaSynth.losslessColorJpeg,
    MediaSynth.arithJpeg, MediaSynth.arithRstJpeg, MediaSynth.prog12Jpeg,
    MediaSynth.seq12ArithJpeg, MediaSynth.progArithJpeg,
    MediaSynth.prog12ArithJpeg, MediaSynth.hierJpeg, MediaSynth.hierArithJpeg,
    MediaSynth.hierProgArithJpeg, MediaSynth.hierProgJpeg)

  private val generated: Seq[Array[Byte]] =
    for (g <- generators; id <- 0L until 30L) yield g(id)

  private def md5Hex(bytes: Array[Byte]): String =
    MessageDigest.getInstance("MD5").digest(bytes).map(b => f"${b & 0xff}%02x").mkString

  /** An AC-bearing imageio JPEG of a 40x24 gradient: grayscale (one
    * component) or colour (imageio's default 4:2:0 YCbCr). */
  private def imageio(color: Boolean, progressive: Boolean): Array[Byte] = {
    val w = 40; val h = 24
    val img = new java.awt.image.BufferedImage(w, h,
      if (color) java.awt.image.BufferedImage.TYPE_INT_RGB
      else java.awt.image.BufferedImage.TYPE_BYTE_GRAY)
    for (x <- 0 until w; y <- 0 until h) {
      val v = (x * 255 / (w - 1) + y * 7 + (x * y) % 31) % 256
      img.setRGB(x, y,
        if (color) (v << 16) | (((v * 3) % 256) << 8) | (255 - v)
        else (v << 16) | (v << 8) | v)
    }
    val buf = new ByteArrayOutputStream()
    val writer = javax.imageio.ImageIO.getImageWritersByFormatName("jpg").next()
    val ios = javax.imageio.ImageIO.createImageOutputStream(buf)
    writer.setOutput(ios)
    val param = writer.getDefaultWriteParam
    param.setCompressionMode(javax.imageio.ImageWriteParam.MODE_EXPLICIT)
    param.setCompressionQuality(0.95f)
    if (progressive) param.setProgressiveMode(javax.imageio.ImageWriteParam.MODE_DEFAULT)
    writer.write(null, new javax.imageio.IIOImage(img, null, null), param)
    writer.dispose(); ios.close()
    buf.toByteArray
  }

  private def markerAt(b: Array[Byte], m: Int): Int =
    b.indices.find(i => i + 1 < b.length && (b(i) & 0xff) == 0xff &&
      (b(i + 1) & 0xff) == m).getOrElse(fail(f"no 0xFF$m%02X marker"))

  /** The first DQT segment rewritten with 16-bit entries (Pq=1), same values. */
  private def withPq1(b: Array[Byte]): Array[Byte] = {
    val at = markerAt(b, 0xdb)
    val len = ((b(at + 2) & 0xff) << 8) | (b(at + 3) & 0xff)
    assert(len == 67, "test premise: one 8-bit table per DQT")
    val seg = new ByteArrayOutputStream()
    seg.write(0xff); seg.write(0xdb); seg.write(0); seg.write(2 + 129)
    seg.write(0x10 | (b(at + 4) & 15))
    (0 until 64).foreach { k => seg.write(0); seg.write(b(at + 5 + k) & 0xff) }
    b.take(at) ++ seg.toByteArray ++ b.drop(at + 2 + len)
  }

  /** `seg` spliced in right before the first occurrence of marker `m`. */
  private def insertBefore(b: Array[Byte], m: Int, seg: Array[Byte]): Array[Byte] = {
    val at = markerAt(b, m)
    b.take(at) ++ seg ++ b.drop(at)
  }

  private def ff(bytes: Int*): Array[Byte] = bytes.map(_.toByte).toArray

  test("the MediaSynth JPEG generators write the pinned bytes") {
    val all = new ByteArrayOutputStream()
    generated.foreach(all.write)
    assert(md5Hex(all.toByteArray) == "6845783d83c669719c1a120b3de45b13")
  }

  test("decodeJpegPixels outcomes over the golden corpus are pinned") {
    val hier = MediaSynth.hierJpeg(3L) // DHP + EXP + 2 frames
    val streams: Seq[Array[Byte]] = generated ++
      (for (color <- Seq(false, true); prog <- Seq(false, true))
        yield imageio(color, prog)) ++ Seq(
        withPq1(hier),
        insertBefore(hier, 0xde, ff(0xff, 0xd8)), // stray SOI before DHP
        insertBefore(hier, 0xc0, ff(0xff, 0xdd, 0, 4, 0, 1))) // DRI = 1
    val rnd = new scala.util.Random(20261017)
    val corpus = streams.flatMap { s =>
      val cuts = (0 until s.length by 7).map(n => s.take(n))
      val flips = (0 until 20).map { _ =>
        val m = s.clone()
        val p = rnd.nextInt(m.length)
        m(p) = (m(p) ^ (1 << rnd.nextInt(8))).toByte
        m
      }
      s +: (cuts ++ flips)
    }
    val bytes = new ByteArrayOutputStream()
    val out = new DataOutputStream(bytes)
    var accepted = 0
    corpus.foreach { s =>
      JpegCodec.decodeJpegPixels(s) match {
        case None => out.writeByte(0)
        case Some(px) =>
          accepted += 1
          out.writeByte(1); out.writeInt(px.width); out.writeInt(px.height)
          out.write(px.rgb)
      }
    }
    out.flush()
    // the three hand-broken hierarchical streams stay rejected
    streams.takeRight(3).foreach(s => assert(JpegCodec.decodeJpegPixels(s).isEmpty))
    assert((corpus.length, accepted, md5Hex(bytes.toByteArray)) ==
      ((35207, 5682, "db2d9ec4bcf43f4fca1d3cbd17184e2b")))
  }
}
