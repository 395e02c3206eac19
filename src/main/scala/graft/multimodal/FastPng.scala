package graft.multimodal

import java.util.zip.Inflater

/** Minimal PNG decoder for the hot decode path (r6 optimization): ImageIO's
  * PNG plugin pays ~27 µs/image of reader/stream/ColorModel machinery around
  * a ~23 µs inflate for a 32×32 truecolor image. This decoder is chunk parse
  * + one reused Inflater + unfilter + pack, and nothing else.
  *
  * Scope: 8-bit truecolor (color type 2), non-interlaced — exactly what
  * `javax.imageio`'s PNG writer emits for `TYPE_INT_RGB` input (the corpus
  * generator's format). Anything else (other bit depths/color types,
  * interlacing, a tRNS chunk, an unrecognized critical chunk) returns null
  * and the caller falls back to ImageIO. Output ints are `0xFF000000 | rgb`,
  * bit-identical to `BufferedImage.getRGB` on the ImageIO-decoded image
  * (PNG is lossless and Java's reader applies no color management to the
  * sample values) — asserted against ImageIO in DecodeSpec.
  *
  * NOT thread-safe (reused Inflater + scratch buffers): one instance per
  * partition task, same contract as [[Decode.ReusableDecoder]].
  */
final class FastPng {

  private val inflater = new Inflater()
  private var raw: Array[Byte] = new Array[Byte](32 * (1 + 32 * 3))

  final class Decoded(val w: Int, val h: Int, val pixels: Array[Int])

  @inline private def u32(b: Array[Byte], off: Int): Int =
    ((b(off) & 0xff) << 24) | ((b(off + 1) & 0xff) << 16) |
      ((b(off + 2) & 0xff) << 8) | (b(off + 3) & 0xff)

  /** ancillary chunks that cannot change decoded sample values. tRNS is
    * deliberately absent: it would add transparency to a type-2 image and
    * change getRGB alpha. */
  @inline private def isSafeAncillary(t: Int): Boolean =
    t == 0x70485973 /* pHYs */ || t == 0x74455874 /* tEXt */ ||
      t == 0x7a545874 /* zTXt */ || t == 0x69545874 /* iTXt */ ||
      t == 0x74494d45 /* tIME */ || t == 0x73524742 /* sRGB */ ||
      t == 0x67414d41 /* gAMA */ || t == 0x6348524d /* cHRM */ ||
      t == 0x624b4744 /* bKGD */ || t == 0x73424954 /* sBIT */

  /** decode, or null when the stream is outside the supported fast-path
    * layout or its IDAT data does not inflate (caller falls back to
    * ImageIO). */
  def decode(b: Array[Byte]): Decoded = {
    if (b == null || b.length < 45) return null
    // signature
    if ((b(0) & 0xff) != 0x89 || b(1) != 'P' || b(2) != 'N' || b(3) != 'G' ||
      b(4) != 0x0d || b(5) != 0x0a || b(6) != 0x1a || b(7) != 0x0a) return null
    // IHDR must be first
    if (u32(b, 8) != 13 || u32(b, 12) != 0x49484452) return null
    val w = u32(b, 16)
    val h = u32(b, 20)
    if (w <= 0 || h <= 0 || w > (1 << 14) || h > (1 << 14)) return null
    val bitDepth = b(24) & 0xff
    val colorType = b(25) & 0xff
    val compression = b(26) & 0xff
    val filterMethod = b(27) & 0xff
    val interlace = b(28) & 0xff
    if (bitDepth != 8 || colorType != 2 || compression != 0 ||
      filterMethod != 0 || interlace != 0) return null

    val stride = 1 + w * 3
    val rawLen = h * stride
    if (raw.length < rawLen) raw = new Array[Byte](rawLen)

    // walk chunks; inflate IDAT payloads directly from the source array
    inflater.reset()
    var total = 0
    var off = 33 // first chunk after IHDR (8 sig + 25 IHDR)
    var sawEnd = false
    while (!sawEnd) {
      if (off + 8 > b.length) return null
      val len = u32(b, off)
      val typ = u32(b, off + 4)
      if (len < 0 || off + 12 + len > b.length) return null
      if (typ == 0x49444154) { // IDAT
        inflater.setInput(b, off + 8, len)
        while (!inflater.needsInput() && !inflater.finished() && total < rawLen) {
          // a corrupt deflate stream is ImageIO's to report, like any
          // other stream outside the fast path
          val k = try inflater.inflate(raw, total, rawLen - total)
            catch { case _: java.util.zip.DataFormatException => return null }
          total += k
          if (k == 0 && !inflater.needsInput() && !inflater.finished()) return null
        }
      } else if (typ == 0x49454e44) { // IEND
        sawEnd = true
      } else if (!isSafeAncillary(typ)) {
        return null // unknown/critical chunk: let ImageIO decide
      }
      off += 12 + len
    }
    if (total != rawLen) return null

    // unfilter in place (bpp = 3), then pack
    var y = 0
    while (y < h) {
      val rowOff = y * stride
      val ft = raw(rowOff) & 0xff
      val d = rowOff + 1
      val p = d - stride // previous row data start (valid when y > 0)
      ft match {
        case 0 => // None
        case 1 => // Sub
          var i = 3
          while (i < w * 3) { raw(d + i) = (raw(d + i) + raw(d + i - 3)).toByte; i += 1 }
        case 2 => // Up
          if (y > 0) {
            var i = 0
            while (i < w * 3) { raw(d + i) = (raw(d + i) + raw(p + i)).toByte; i += 1 }
          }
        case 3 => // Average
          var i = 0
          while (i < w * 3) {
            val left = if (i >= 3) raw(d + i - 3) & 0xff else 0
            val up = if (y > 0) raw(p + i) & 0xff else 0
            raw(d + i) = (raw(d + i) + ((left + up) >> 1)).toByte
            i += 1
          }
        case 4 => // Paeth
          var i = 0
          while (i < w * 3) {
            val a = if (i >= 3) raw(d + i - 3) & 0xff else 0
            val c = if (y > 0) raw(p + i) & 0xff else 0
            val cc = if (y > 0 && i >= 3) raw(p + i - 3) & 0xff else 0
            val pp = a + c - cc
            val pa = Math.abs(pp - a)
            val pb = Math.abs(pp - c)
            val pc = Math.abs(pp - cc)
            val pred = if (pa <= pb && pa <= pc) a else if (pb <= pc) c else cc
            raw(d + i) = (raw(d + i) + pred).toByte
            i += 1
          }
        case _ => return null
      }
      y += 1
    }
    val px = new Array[Int](w * h)
    y = 0
    while (y < h) {
      var s = y * stride + 1
      var o = y * w
      val end = o + w
      while (o < end) {
        px(o) = 0xff000000 | ((raw(s) & 0xff) << 16) | ((raw(s + 1) & 0xff) << 8) |
          (raw(s + 2) & 0xff)
        s += 3
        o += 1
      }
      y += 1
    }
    new Decoded(w, h, px)
  }
}
