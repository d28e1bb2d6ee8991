package graft.functions

import org.apache.spark.sql.catalyst.InternalRow

/** REAL pure-JVM PNG codec — the COMPRESSED-format counterpart of
  * [[MediaCodec]]'s BMP/WAV walkers, built entirely on `java.util.zip`
  * (Deflater/Inflater/CRC32 are the exact zlib primitives the PNG spec
  * names), so the multimodal family covers a format real corpora contain
  * with zero native dependencies.
  *
  * [[PngCodec.pngEncode]] emits a spec-conformant 8-bit truecolor PNG:
  * signature, IHDR, one zlib-deflated IDAT, IEND, each chunk CRC32-sealed.
  * The encoder cycles the scanline filter type (row % 5 → None, Sub, Up,
  * Average, Paeth), which is what makes the decoder oracle-checkable IN
  * DEPTH: filtering is lossless, so the q112 oracle recomputes the same
  * closed-form pixel sums as q97's — but a decoder that mis-implements any
  * one of the five filter reconstructions, drops the zlib stream's
  * trailing Adler block, or mis-walks a chunk boundary hash-mismatches.
  *
  * [[PngCodec.pngStats]] is a real decoder: signature check, chunk walk
  * with per-chunk CRC verification, IHDR validation (8-bit truecolor,
  * non-interlaced), multi-IDAT concatenation, full inflate, then the five
  * PNG filter reconstructions. Null on anything malformed.
  *
  * Same execution discipline as [[MediaCodec]]: one static JVM call per
  * row from inside whole-stage codegen, integer sums only (no float
  * drift across engines).
  */
object PngCodec {

  /** Pixel formula shared with the q112 oracle — same closed form as
    * [[MediaCodec]]'s BMP px so the DuckDB side is a small SQL delta. */
  @inline private def px(seed: Long, x: Int, y: Int, cx: Int, cy: Int): Int =
    java.lang.Math.floorMod(seed + cx.toLong * x + cy.toLong * y, 256L).toInt

  val MaxDim = 4096

  private def beInt(b: Array[Byte], o: Int): Int =
    ((b(o) & 0xff) << 24) | ((b(o + 1) & 0xff) << 16) |
      ((b(o + 2) & 0xff) << 8) | (b(o + 3) & 0xff)
  private def putBeInt(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = (v >>> 24).toByte; b(o + 1) = (v >>> 16).toByte
    b(o + 2) = (v >>> 8).toByte; b(o + 3) = v.toByte
  }

  private val Signature: Array[Byte] =
    Array(0x89, 'P', 'N', 'G', '\r', '\n', 0x1a, '\n').map(_.toByte)

  /** PNG chunk: BE32 length + 4-byte type + data + CRC32(type ++ data). */
  private def chunk(out: java.io.ByteArrayOutputStream, typ: String,
                    data: Array[Byte]): Unit = {
    val len = new Array[Byte](4)
    putBeInt(len, 0, data.length)
    out.write(len)
    val t = typ.getBytes("US-ASCII")
    out.write(t)
    out.write(data)
    val crc = new java.util.zip.CRC32()
    crc.update(t); crc.update(data)
    val c = new Array[Byte](4)
    putBeInt(c, 0, crc.getValue.toInt)
    out.write(c)
  }

  @inline private def paeth(a: Int, b: Int, c: Int): Int = {
    val p = a + b - c
    val pa = math.abs(p - a); val pb = math.abs(p - b); val pc = math.abs(p - c)
    if (pa <= pb && pa <= pc) a else if (pb <= pc) b else c
  }

  /** Spec-conformant 8-bit truecolor non-interlaced PNG. Scanline filters
    * cycle row % 5 so every reconstruction path in [[pngStats]] is load-
    * bearing. RGB channels carry the shared px formula (cx,cy) =
    * (11,13) / (5,7) / (2,3) — same as the BMP encoder, q97-style. */
  def pngEncode(seed: Long, width: Int, height: Int): Array[Byte] = {
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    val bpp = 3 // bytes per pixel: 8-bit RGB
    val stride = width * bpp
    // Raw image: y = 0 is the top row, per the PNG scanline order.
    val raw = new Array[Byte](height * stride)
    var y = 0
    while (y < height) {
      var x = 0
      while (x < width) {
        val o = y * stride + x * bpp
        raw(o) = px(seed, x, y, 11, 13).toByte     // R
        raw(o + 1) = px(seed, x, y, 5, 7).toByte   // G
        raw(o + 2) = px(seed, x, y, 2, 3).toByte   // B
        x += 1
      }
      y += 1
    }
    encodeRgb(raw, width, height)
  }

  /** Filter + deflate + frame a raw top-down RGB byte image as a real
    * PNG file — the shared encoder back half of [[pngEncode]] and
    * [[pngResize]]. */
  private def encodeRgb(raw: Array[Byte], width: Int, height: Int): Array[Byte] = {
    val bpp = 3
    val stride = width * bpp
    // Filtered stream: per scanline, 1 filter-type byte + filtered bytes.
    val filtered = new Array[Byte](height * (1 + stride))
    var y = 0
    while (y < height) {
      val ft = y % 5
      filtered(y * (1 + stride)) = ft.toByte
      var i = 0
      while (i < stride) {
        val cur = raw(y * stride + i) & 0xff
        val left = if (i >= bpp) raw(y * stride + i - bpp) & 0xff else 0
        val up = if (y > 0) raw((y - 1) * stride + i) & 0xff else 0
        val upLeft = if (y > 0 && i >= bpp) raw((y - 1) * stride + i - bpp) & 0xff else 0
        val f = ft match {
          case 0 => cur
          case 1 => cur - left
          case 2 => cur - up
          case 3 => cur - ((left + up) >> 1)
          case 4 => cur - paeth(left, up, upLeft)
        }
        filtered(y * (1 + stride) + 1 + i) = f.toByte
        i += 1
      }
      y += 1
    }
    // zlib-deflate the filtered stream (Deflater's default wrapper IS the
    // zlib container PNG requires: 2-byte header + deflate + Adler-32).
    val deflater = new java.util.zip.Deflater(java.util.zip.Deflater.DEFAULT_COMPRESSION)
    deflater.setInput(filtered)
    deflater.finish()
    val zbuf = new java.io.ByteArrayOutputStream(filtered.length / 2 + 64)
    val tmp = new Array[Byte](8192)
    while (!deflater.finished()) {
      val n = deflater.deflate(tmp)
      zbuf.write(tmp, 0, n)
    }
    deflater.end()

    val out = new java.io.ByteArrayOutputStream(zbuf.size() + 64)
    out.write(Signature)
    val ihdr = new Array[Byte](13)
    putBeInt(ihdr, 0, width)
    putBeInt(ihdr, 4, height)
    ihdr(8) = 8  // bit depth
    ihdr(9) = 2  // color type: truecolor RGB
    ihdr(10) = 0 // compression: deflate
    ihdr(11) = 0 // filter method: adaptive (per-scanline types 0-4)
    ihdr(12) = 0 // interlace: none
    chunk(out, "IHDR", ihdr)
    chunk(out, "IDAT", zbuf.toByteArray)
    chunk(out, "IEND", Array.emptyByteArray)
    out.toByteArray
  }

  /** Decode an 8-bit truecolor non-interlaced PNG and return
    * (width, height, sum_r, sum_g, sum_b); null on anything malformed —
    * bad signature, chunk running past the buffer, CRC mismatch, missing
    * or invalid IHDR, unsupported depth/color/interlace, zlib stream that
    * inflates to the wrong length, or an unknown filter type. */
  def pngStats(b: Array[Byte]): InternalRow = {
    val img = decodeRgb(b)
    if (img == null) return null
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var o = 0
    while (o < img.raw.length) {
      sumR += img.raw(o) & 0xff
      sumG += img.raw(o + 1) & 0xff
      sumB += img.raw(o + 2) & 0xff
      o += 3
    }
    InternalRow(img.width, img.height, sumR, sumG, sumB)
  }

  /** Decoded RGB pixel ARRAY of a PNG — [[MediaCodec.bmpPixels]]'s layout
    * (flattened row-major top-down RGB interleave, pixel (x, y) channel c
    * at index (y·w + x)·3 + c) so every downstream image consumer
    * (patchify, fingerprinting, dedup) sees ONE shape regardless of the
    * container format. Full [[decodeRgb]] validation; null on malformed
    * input. */
  def pngPixels(b: Array[Byte]): InternalRow = {
    val img = decodeRgb(b)
    if (img == null) return null
    val pix = new Array[Int](img.raw.length)
    var i = 0
    while (i < pix.length) { pix(i) = img.raw(i) & 0xff; i += 1 }
    InternalRow(img.width, img.height,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(pix))
  }

  /** Nearest-neighbor downscale of a PNG, re-encoded as a REAL PNG — the
    * compressed-format counterpart of [[MediaCodec.bmpResize]]: dst pixel
    * (x, y) samples src pixel (x·srcW div dstW, y·srcH div dstH), integer
    * floor division, the closed form the q114 oracle recomputes. Decodes
    * through the full [[decodeRgb]] validation (null on malformed input
    * or non-positive/upscaling targets) and re-encodes through the same
    * filter + deflate + CRC plumbing as [[pngEncode]], so the output is
    * itself a valid PNG any reader opens. */
  def pngResize(b: Array[Byte], dstW: Int, dstH: Int): Array[Byte] = {
    val img = decodeRgb(b)
    if (img == null) return null
    if (dstW <= 0 || dstH <= 0 || dstW > img.width || dstH > img.height) return null
    val out = new Array[Byte](dstH * dstW * 3)
    var y = 0
    while (y < dstH) {
      val srcY = y * img.height / dstH
      var x = 0
      while (x < dstW) {
        val srcX = x * img.width / dstW
        val so = (srcY * img.width + srcX) * 3
        val o = (y * dstW + x) * 3
        out(o) = img.raw(so)
        out(o + 1) = img.raw(so + 1)
        out(o + 2) = img.raw(so + 2)
        x += 1
      }
      y += 1
    }
    encodeRgb(out, dstW, dstH)
  }

  /** Decoded 8-bit RGB image: top-down rows of packed R,G,B bytes. */
  private final class Rgb(val width: Int, val height: Int, val raw: Array[Byte])

  /** The full decode path (signature, CRC-verified chunk walk, IHDR
    * validation, multi-IDAT inflate, filter reconstruction) shared by
    * [[pngStats]] and [[pngResize]]; null on anything malformed.
    * Supports 8-bit truecolor (color type 2) AND 8-bit grayscale (color
    * type 0 — the other PNG flavor real corpora commonly contain);
    * grayscale expands to R=G=B so every consumer sees one RGB shape. */
  private def decodeRgb(b: Array[Byte]): Rgb = {
    if (b == null || b.length < 8 + 12 + 13 + 12) return null
    var i = 0
    while (i < 8) { if (b(i) != Signature(i)) return null; i += 1 }

    var pos = 8
    var width = -1; var height = -1; var colorType = -1
    var sawIhdr = false; var sawIend = false
    val idat = new java.io.ByteArrayOutputStream(b.length)
    while (!sawIend) {
      if (pos + 12 > b.length) return null
      val len = beInt(b, pos)
      // Long arithmetic: a hostile length near Int.MaxValue would wrap the
      // Int sum negative and slip past the bound (same discipline as the
      // BMP walker's dataOffset check).
      if (len < 0 || pos + 12L + len > b.length) return null
      val crc = new java.util.zip.CRC32()
      crc.update(b, pos + 4, 4 + len)
      if (crc.getValue.toInt != beInt(b, pos + 8 + len)) return null
      val typ = new String(b, pos + 4, 4, "US-ASCII")
      typ match {
        case "IHDR" =>
          if (sawIhdr || pos != 8 || len != 13) return null
          sawIhdr = true
          width = beInt(b, pos + 8)
          height = beInt(b, pos + 12)
          val depth = b(pos + 16) & 0xff
          colorType = b(pos + 17) & 0xff
          val comp = b(pos + 18) & 0xff
          val filt = b(pos + 19) & 0xff
          val interlace = b(pos + 20) & 0xff
          if (depth != 8 || (colorType != 2 && colorType != 0) ||
            comp != 0 || filt != 0 || interlace != 0)
            return null
          if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim)
            return null
        case "IDAT" =>
          if (!sawIhdr) return null
          idat.write(b, pos + 8, len)
        case "IEND" =>
          if (!sawIhdr || len != 0) return null
          sawIend = true
        case _ => // ancillary chunk (tEXt, pHYs, …): CRC already checked, skip
          if (!sawIhdr) return null
      }
      pos += 12 + len
    }

    val bpp = if (colorType == 0) 1 else 3 // filter distance = bytes/pixel
    val stride = width * bpp
    val expected = height * (1 + stride)
    val filtered = new Array[Byte](expected)
    val inflater = new java.util.zip.Inflater()
    inflater.setInput(idat.toByteArray)
    try {
      var got = 0
      while (got < expected && !inflater.finished()) {
        val n = inflater.inflate(filtered, got, expected - got)
        // n == 0 without needing input means a preset-dictionary (FDICT)
        // stream — unsupported (and never produced by PNG encoders);
        // without this check the loop would spin forever on such input.
        if (n == 0 && (inflater.needsInput() || inflater.needsDictionary()))
          return null // truncated or dictionary-requiring stream
        got += n
      }
      if (got != expected) return null
      // The stream must END here, with its Adler-32 trailer verified:
      // one more inflate processes the trailer (finished() flips true) or
      // exposes surplus pixel data / a truncated checksum — all malformed.
      val probe = new Array[Byte](1)
      if (inflater.inflate(probe) != 0) return null
      if (!inflater.finished()) return null
    } catch {
      case _: java.util.zip.DataFormatException => return null
    } finally inflater.end()

    // Reconstruct scanlines in place (raw bytes overwrite filtered bytes),
    // then strip the filter-type bytes into a packed RGB frame.
    var y = 0
    while (y < height) {
      val rowOff = y * (1 + stride) + 1
      val ft = filtered(rowOff - 1) & 0xff
      if (ft > 4) return null
      var j = 0
      while (j < stride) {
        val cur = filtered(rowOff + j) & 0xff
        val left = if (j >= bpp) filtered(rowOff + j - bpp) & 0xff else 0
        val up = if (y > 0) filtered(rowOff - (1 + stride) + j) & 0xff else 0
        val upLeft = if (y > 0 && j >= bpp) filtered(rowOff - (1 + stride) + j - bpp) & 0xff else 0
        val recon = (ft match {
          case 0 => cur
          case 1 => cur + left
          case 2 => cur + up
          case 3 => cur + ((left + up) >> 1)
          case 4 => cur + paeth(left, up, upLeft)
        }) & 0xff
        filtered(rowOff + j) = recon.toByte
        j += 1
      }
      y += 1
    }
    val raw = new Array[Byte](height * width * 3)
    y = 0
    while (y < height) {
      if (bpp == 3)
        System.arraycopy(filtered, y * (1 + stride) + 1, raw, y * width * 3, stride)
      else {
        // grayscale: replicate the single channel into R=G=B
        var x = 0
        while (x < width) {
          val v = filtered(y * (1 + stride) + 1 + x)
          val o = (y * width + x) * 3
          raw(o) = v; raw(o + 1) = v; raw(o + 2) = v
          x += 1
        }
      }
      y += 1
    }
    new Rgb(width, height, raw)
  }
}
