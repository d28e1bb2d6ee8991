package graft.functions

import org.apache.spark.sql.catalyst.InternalRow

/** REAL pure-JVM baseline-JPEG codec — the TRANSFORM-coded counterpart of
  * [[PngCodec]]'s entropy-only zlib path, retiring the last declared stub
  * class in [[graft.ops.Multimodal]] (JPEG was "needs external libraries";
  * it doesn't: baseline JFIF is Huffman + dequantize + IDCT, all
  * implementable on a bare JVM).
  *
  * [[JpegCodec.jpegEncode]] emits a spec-conformant baseline sequential
  * GRAYSCALE JFIF file: SOI, JFIF APP0, DQT (Annex-K luminance table at
  * quality 75), SOF0, DHT (the standard Annex-K DC/AC luminance tables),
  * SOS, entropy-coded scan with 0xFF byte stuffing, EOI. Forward path is
  * level-shift, 8×8 FDCT, quantize, zigzag, DC-difference + AC
  * run-length Huffman coding.
  *
  * [[JpegCodec.jpegStats]] is a real decoder covering what real corpora
  * contain: baseline sequential (SOF0) and extended sequential (SOF1)
  * Huffman JPEG, 8-bit samples, 1-component grayscale or 3-component
  * YCbCr with sampling factors 1-2 per axis (4:4:4 / 4:2:2 / 4:4:0 /
  * 4:2:0 — the JDK's own writer emits 4:2:0 for RGB), multi-segment DQT
  * (8- and 16-bit) and DHT, restart markers, fill bytes. Progressive
  * (SOF2), arithmetic coding, 12-bit precision and hierarchical modes
  * return null, as does anything structurally malformed — truncated
  * segment, over-long coefficient run, missing table, scan data ending
  * early, or trailing bytes after EOI.
  *
  * JPEG is LOSSY, so unlike BMP/WAV/PNG the decoded pixels have no exact
  * closed form: q115 verifies the verified-approximation way (the
  * q83/q84 pattern) — the encoder's source pattern is a wrap-free affine
  * ramp whose pixel sum IS closed-form, and the query folds the decode
  * into a boolean asserting the decoded sum lands within a small
  * per-pixel tolerance of that sum. JpegSpec additionally cross-checks
  * both directions against the JDK's independent ImageIO coder
  * (pixelwise, grayscale and 4:2:0 color) and fuzzes for totality.
  *
  * Same execution discipline as [[MediaCodec]]/[[PngCodec]]: one static
  * JVM call per row from inside whole-stage codegen; the only floats are
  * inside the DCT mathematics, whose strict IEEE semantics make results
  * bit-stable across hosts.
  */
object JpegCodec {

  val MaxDim = 4096

  /** Encoder source pattern: a wrap-free affine ramp. For the asset dims
    * this library generates (≤ 16 px a side) the value stays < 256
    * without any modulo, so the image is SMOOTH — no sawtooth edges —
    * and the quantization error of the round trip stays ≪ 1 LSB/px.
    * Sum over the image is closed-form (the q115 oracle's side):
    * w·h·(seed mod 97) + 2·h·w(w−1)/2 + 3·w·h(h−1)/2. */
  @inline private def px(seed: Long, x: Int, y: Int): Int =
    math.min(255, java.lang.Math.floorMod(seed, 97L).toInt + 2 * x + 3 * y)

  // Zigzag index k → natural (row-major) index, JPEG spec Figure A.6.
  private val Zigzag: Array[Int] = Array(
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63)

  // Annex-K luminance quantization table (quality 50 base), natural order.
  private val StdLumaQuant: Array[Int] = Array(
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99)

  /** The encoder's table: Annex K scaled to quality 75 (scale factor 50%,
    * the libjpeg quality curve), floor 1. */
  private val EncQuant: Array[Int] =
    StdLumaQuant.map(q => math.max(1, (q * 50 + 50) / 100))

  // Annex-K standard Huffman tables, luminance. bits(i) = #codes of
  // length i+1 (i in 0..15); vals in canonical order.
  private val DcLumaBits: Array[Int] =
    Array(0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0)
  private val DcLumaVals: Array[Int] = (0 to 11).toArray
  private val AcLumaBits: Array[Int] =
    Array(0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 0x7d)
  private val AcLumaVals: Array[Int] = Array(
    0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12,
    0x21, 0x31, 0x41, 0x06, 0x13, 0x51, 0x61, 0x07,
    0x22, 0x71, 0x14, 0x32, 0x81, 0x91, 0xa1, 0x08,
    0x23, 0x42, 0xb1, 0xc1, 0x15, 0x52, 0xd1, 0xf0,
    0x24, 0x33, 0x62, 0x72, 0x82, 0x09, 0x0a, 0x16,
    0x17, 0x18, 0x19, 0x1a, 0x25, 0x26, 0x27, 0x28,
    0x29, 0x2a, 0x34, 0x35, 0x36, 0x37, 0x38, 0x39,
    0x3a, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49,
    0x4a, 0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59,
    0x5a, 0x63, 0x64, 0x65, 0x66, 0x67, 0x68, 0x69,
    0x6a, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
    0x7a, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89,
    0x8a, 0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98,
    0x99, 0x9a, 0xa2, 0xa3, 0xa4, 0xa5, 0xa6, 0xa7,
    0xa8, 0xa9, 0xaa, 0xb2, 0xb3, 0xb4, 0xb5, 0xb6,
    0xb7, 0xb8, 0xb9, 0xba, 0xc2, 0xc3, 0xc4, 0xc5,
    0xc6, 0xc7, 0xc8, 0xc9, 0xca, 0xd2, 0xd3, 0xd4,
    0xd5, 0xd6, 0xd7, 0xd8, 0xd9, 0xda, 0xe1, 0xe2,
    0xe3, 0xe4, 0xe5, 0xe6, 0xe7, 0xe8, 0xe9, 0xea,
    0xf1, 0xf2, 0xf3, 0xf4, 0xf5, 0xf6, 0xf7, 0xf8,
    0xf9, 0xfa)

  // 8-point DCT basis: CosTab(u)(x) = C(u)·cos((2x+1)uπ/16)/2, so a 2-D
  // transform is two matrix passes with no extra scaling.
  private val CosTab: Array[Array[Double]] = Array.tabulate(8, 8) { (u, x) =>
    val c = if (u == 0) 1.0 / math.sqrt(2.0) else 1.0
    0.5 * c * math.cos((2 * x + 1) * u * math.Pi / 16.0)
  }

  // ---------------------------------------------------------------- encode

  /** Canonical Huffman code assignment for (bits, vals): returns
    * (codeOf(symbol), sizeOf(symbol)) arrays indexed by symbol value. */
  private def buildEncodeTable(bits: Array[Int], vals: Array[Int]): (Array[Int], Array[Int]) = {
    val code = new Array[Int](256)
    val size = new Array[Int](256)
    var k = 0; var c = 0
    var l = 0
    while (l < 16) {
      var i = 0
      while (i < bits(l)) {
        code(vals(k)) = c
        size(vals(k)) = l + 1
        c += 1; k += 1; i += 1
      }
      c <<= 1
      l += 1
    }
    (code, size)
  }

  private final class BitWriter(out: java.io.ByteArrayOutputStream) {
    private var acc = 0L
    private var n = 0
    def put(code: Int, len: Int): Unit = {
      acc = (acc << len) | (code & ((1L << len) - 1))
      n += len
      while (n >= 8) {
        val b = ((acc >>> (n - 8)) & 0xff).toInt
        out.write(b)
        if (b == 0xff) out.write(0x00) // byte stuffing
        n -= 8
      }
    }
    /** Pad the FINAL PARTIAL byte (only) with 1-bits per spec — never a
      * whole extra byte, which a strict decoder would see as unconsumed
      * scan data between the last MCU and EOI. */
    def flush(): Unit = if (n > 0) {
      val pad = 8 - n
      val b = (((acc << pad) | ((1L << pad) - 1)) & 0xff).toInt
      out.write(b)
      if (b == 0xff) out.write(0x00)
      n = 0
    }
  }

  private def marker(out: java.io.ByteArrayOutputStream, m: Int,
                     payload: Array[Byte]): Unit = {
    out.write(0xff); out.write(m)
    val len = payload.length + 2
    out.write((len >>> 8) & 0xff); out.write(len & 0xff)
    out.write(payload, 0, payload.length)
  }

  /** Deterministic grayscale baseline JFIF file for (seed, width, height);
    * null on non-positive or over-[[MaxDim]] dims. */
  def jpegEncode(seed: Long, width: Int, height: Int): Array[Byte] =
    jpegEncode(seed, width, height, restartInterval = 0)

  /** Variant with DRI/RSTn restart markers every `restartInterval` MCUs —
    * exists so the decoder's restart path (byte realign, RST sequence
    * check, DC-predictor reset) is exercised by files an independent
    * decoder also accepts; the JDK writer never emits DRI. */
  private[graft] def jpegEncode(seed: Long, width: Int, height: Int,
                                restartInterval: Int): Array[Byte] = {
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    val out = new java.io.ByteArrayOutputStream(1024)
    out.write(0xff); out.write(0xd8) // SOI
    // JFIF APP0: identifier, v1.1, no density, no thumbnail
    marker(out, 0xe0, Array[Byte]('J', 'F', 'I', 'F', 0, 1, 1, 0, 0, 1, 0, 1, 0, 0))
    // DQT: Pq=0 (8-bit), Tq=0, 64 entries in ZIGZAG order
    val dqt = new Array[Byte](65)
    dqt(0) = 0
    var k = 0
    while (k < 64) { dqt(1 + k) = EncQuant(Zigzag(k)).toByte; k += 1 }
    marker(out, 0xdb, dqt)
    // SOF0: precision 8, 1 component (id 1, 1x1 sampling, Tq 0)
    marker(out, 0xc0, Array[Byte](8,
      ((height >>> 8) & 0xff).toByte, (height & 0xff).toByte,
      ((width >>> 8) & 0xff).toByte, (width & 0xff).toByte,
      1, 1, 0x11, 0))
    // DHT: DC table 0 then AC table 0, both Annex-K luminance
    def dht(tcth: Int, bits: Array[Int], vals: Array[Int]): Array[Byte] = {
      val a = new Array[Byte](1 + 16 + vals.length)
      a(0) = tcth.toByte
      var i = 0
      while (i < 16) { a(1 + i) = bits(i).toByte; i += 1 }
      i = 0
      while (i < vals.length) { a(17 + i) = vals(i).toByte; i += 1 }
      a
    }
    marker(out, 0xc4, dht(0x00, DcLumaBits, DcLumaVals))
    marker(out, 0xc4, dht(0x10, AcLumaBits, AcLumaVals))
    if (restartInterval > 0)
      marker(out, 0xdd, Array[Byte](
        ((restartInterval >>> 8) & 0xff).toByte, (restartInterval & 0xff).toByte))
    // SOS: 1 component, comp id 1, DC table 0 / AC table 0, Ss=0 Se=63 Ah/Al=0
    marker(out, 0xda, Array[Byte](1, 1, 0x00, 0, 63, 0))

    val (dcCode, dcSize) = buildEncodeTable(DcLumaBits, DcLumaVals)
    val (acCode, acSize) = buildEncodeTable(AcLumaBits, AcLumaVals)
    val bw = new BitWriter(out)
    val block = new Array[Double](64)
    val coef = new Array[Int](64)
    val bx = (width + 7) / 8
    val by = (height + 7) / 8
    var pred = 0
    var rstIdx = 0
    var mcuIdx = 0
    var myi = 0
    while (myi < by) {
      var mxi = 0
      while (mxi < bx) {
        if (restartInterval > 0 && mcuIdx > 0 && mcuIdx % restartInterval == 0) {
          bw.flush() // byte-align (1-bit padding) before the marker
          out.write(0xff); out.write(0xd0 + rstIdx)
          rstIdx = (rstIdx + 1) & 7
          pred = 0 // DC predictor resets at every restart
        }
        mcuIdx += 1
        // level-shifted 8x8 block, edge-replicated past the image bounds
        var y = 0
        while (y < 8) {
          val sy = math.min(height - 1, myi * 8 + y)
          var x = 0
          while (x < 8) {
            val sx = math.min(width - 1, mxi * 8 + x)
            block(y * 8 + x) = px(seed, sx, sy) - 128.0
            x += 1
          }
          y += 1
        }
        // FDCT: rows then columns against the cosine basis
        val tmp = new Array[Double](64)
        var u = 0
        while (u < 8) {
          var x = 0
          while (x < 8) {
            var s = 0.0; var i = 0
            while (i < 8) { s += block(x * 8 + i) * CosTab(u)(i); i += 1 }
            tmp(x * 8 + u) = s
            x += 1
          }
          u += 1
        }
        var v = 0
        while (v < 8) {
          var uu = 0
          while (uu < 8) {
            var s = 0.0; var i = 0
            while (i < 8) { s += tmp(i * 8 + uu) * CosTab(v)(i); i += 1 }
            val q = EncQuant(v * 8 + uu)
            coef(v * 8 + uu) = math.round(s / q).toInt
            uu += 1
          }
          v += 1
        }
        // DC difference then AC run-lengths, both Huffman + raw bits
        val dc = coef(0)
        var diff = dc - pred
        pred = dc
        val dcMag = magnitude(diff)
        bw.put(dcCode(dcMag), dcSize(dcMag))
        if (dcMag > 0) {
          if (diff < 0) diff += (1 << dcMag) - 1
          bw.put(diff, dcMag)
        }
        var run = 0
        var kk = 1
        while (kk < 64) {
          val ac = coef(Zigzag(kk))
          if (ac == 0) run += 1
          else {
            while (run > 15) { bw.put(acCode(0xf0), acSize(0xf0)); run -= 16 }
            val mag = magnitude(ac)
            val rs = (run << 4) | mag
            bw.put(acCode(rs), acSize(rs))
            var bitsV = ac
            if (bitsV < 0) bitsV += (1 << mag) - 1
            bw.put(bitsV, mag)
            run = 0
          }
          kk += 1
        }
        if (run > 0) bw.put(acCode(0x00), acSize(0x00)) // EOB
        mxi += 1
      }
      myi += 1
    }
    bw.flush()
    out.write(0xff); out.write(0xd9) // EOI
    out.toByteArray
  }

  @inline private def magnitude(v: Int): Int = {
    var a = math.abs(v); var n = 0
    while (a != 0) { a >>= 1; n += 1 }
    n
  }

  // ---------------------------------------------------------------- decode

  /** Decoded Huffman table in the spec's MINCODE/MAXCODE/VALPTR form. */
  private final class HuffTable(bits: Array[Int], val vals: Array[Int]) {
    val minCode = new Array[Int](17)
    val maxCode = new Array[Int](17)
    val valPtr = new Array[Int](17)
    locally {
      var code = 0; var k = 0
      var l = 1
      while (l <= 16) {
        valPtr(l) = k
        minCode(l) = code
        code += bits(l - 1)
        k += bits(l - 1)
        maxCode(l) = if (bits(l - 1) == 0) -1 else code - 1
        code <<= 1
        l += 1
      }
    }
  }

  /** Scan-data bit reader: handles 0xFF00 stuffing; any bare marker ends
    * the entropy stream (position parked ON the 0xFF for the caller).
    * Returns -1 from readBit at end-of-data/marker — decode paths treat
    * that as malformed unless they are exactly at a restart boundary. */
  private final class BitReader(b: Array[Byte], var pos: Int) {
    private var acc = 0
    private var n = 0
    var hitMarker = false
    def readBit(): Int = {
      if (n == 0) {
        if (hitMarker || pos >= b.length) return -1
        val v = b(pos) & 0xff
        if (v == 0xff) {
          if (pos + 1 >= b.length) { hitMarker = true; return -1 }
          val nx = b(pos + 1) & 0xff
          if (nx == 0x00) { pos += 2; acc = 0xff; n = 8 }
          else { hitMarker = true; return -1 } // marker: stream over
        } else { pos += 1; acc = v; n = 8 }
      }
      n -= 1
      (acc >>> n) & 1
    }
    def receive(len: Int): Int = {
      var v = 0; var i = 0
      while (i < len) {
        val bit = readBit()
        if (bit < 0) return Int.MinValue
        v = (v << 1) | bit
        i += 1
      }
      v
    }
    /** Byte-align and consume an expected RSTn marker; false if absent. */
    def restart(expected: Int): Boolean = {
      n = 0; hitMarker = false
      if (pos + 1 >= b.length || (b(pos) & 0xff) != 0xff) return false
      if ((b(pos + 1) & 0xff) != 0xd0 + expected) return false
      pos += 2
      true
    }
    def alignPos(): Int = { n = 0; pos }
  }

  private def decodeSym(br: BitReader, t: HuffTable): Int = {
    var code = br.readBit()
    if (code < 0) return -1
    var l = 1
    while (l <= 16) {
      if (t.maxCode(l) >= 0 && code <= t.maxCode(l)) {
        val idx = t.valPtr(l) + code - t.minCode(l)
        if (idx < 0 || idx >= t.vals.length) return -1
        return t.vals(idx)
      }
      val bit = br.readBit()
      if (bit < 0) return -1
      code = (code << 1) | bit
      l += 1
    }
    -1
  }

  @inline private def extend(v: Int, mag: Int): Int =
    if (mag == 0) 0 else if (v < (1 << (mag - 1))) v - (1 << mag) + 1 else v

  /** Decoded 8-bit image: top-down packed R,G,B (grayscale replicated). */
  private[graft] final class Rgb(val width: Int, val height: Int, val raw: Array[Byte])

  private final class Component {
    var id = 0; var h = 0; var v = 0; var tq = 0
    var dcTab = 0; var acTab = 0
    var plane: Array[Byte] = null // padded to blocksX*8 x blocksY*8
    var planeW = 0; var planeH = 0
    var pred = 0
  }

  /** Full baseline decode; null on anything malformed or unsupported.
    * Package-visible so JpegSpec can compare pixelwise against ImageIO. */
  private[graft] def decodeRgb(b: Array[Byte]): Rgb =
    try decodeRgb0(b)
    catch {
      // The marker walk checks bounds explicitly; this is the totality
      // backstop for the entropy loop, where a hostile Huffman/sampling
      // combination is cheaper to catch than to pre-validate.
      case _: ArrayIndexOutOfBoundsException => null
      case _: NegativeArraySizeException => null
      case _: OutOfMemoryError => null
    }

  private def decodeRgb0(b: Array[Byte]): Rgb = {
    if (b == null || b.length < 4) return null
    if ((b(0) & 0xff) != 0xff || (b(1) & 0xff) != 0xd8) return null
    var pos = 2
    val quant = new Array[Array[Int]](4) // natural order, dequant-ready
    val dcTabs = new Array[HuffTable](4)
    val acTabs = new Array[HuffTable](4)
    var width = -1; var height = -1
    var comps: Array[Component] = null
    var restartInterval = 0
    var sawSof = false

    def u16(o: Int): Int = ((b(o) & 0xff) << 8) | (b(o + 1) & 0xff)

    while (true) {
      // Fill bytes: any number of 0xFF may precede a marker.
      if (pos >= b.length) return null
      if ((b(pos) & 0xff) != 0xff) return null
      while (pos < b.length && (b(pos) & 0xff) == 0xff &&
        pos + 1 < b.length && (b(pos + 1) & 0xff) == 0xff) pos += 1
      if (pos + 1 >= b.length) return null
      val m = b(pos + 1) & 0xff
      pos += 2
      m match {
        case 0xd9 => return null // EOI before any scan
        case x if x >= 0xe0 && x <= 0xef => // APPn
          if (pos + 2 > b.length) return null
          val len = u16(pos); if (len < 2 || pos + len > b.length) return null
          pos += len
        case 0xfe => // COM
          if (pos + 2 > b.length) return null
          val len = u16(pos); if (len < 2 || pos + len > b.length) return null
          pos += len
        case 0xdb => // DQT: one or more tables in one segment
          if (pos + 2 > b.length) return null
          val len = u16(pos); if (len < 2 || pos + len > b.length) return null
          var o = pos + 2
          while (o < pos + len) {
            val pqtq = b(o) & 0xff
            val pq = pqtq >>> 4; val tq = pqtq & 0x0f
            if (tq > 3 || pq > 1) return null
            val n = if (pq == 0) 64 else 128
            if (o + 1 + n > pos + len) return null
            val t = new Array[Int](64)
            var k = 0
            while (k < 64) {
              val v = if (pq == 0) b(o + 1 + k) & 0xff
                      else ((b(o + 1 + 2 * k) & 0xff) << 8) | (b(o + 2 + 2 * k) & 0xff)
              if (v == 0) return null
              t(Zigzag(k)) = v
              k += 1
            }
            quant(tq) = t
            o += 1 + n
          }
          pos += len
        case 0xc4 => // DHT: one or more tables in one segment
          if (pos + 2 > b.length) return null
          val len = u16(pos); if (len < 2 || pos + len > b.length) return null
          var o = pos + 2
          while (o < pos + len) {
            val tcth = b(o) & 0xff
            val tc = tcth >>> 4; val th = tcth & 0x0f
            if (tc > 1 || th > 3) return null
            if (o + 17 > pos + len) return null
            val bits = new Array[Int](16)
            var total = 0
            var i = 0
            while (i < 16) { bits(i) = b(o + 1 + i) & 0xff; total += bits(i); i += 1 }
            if (total > 256 || o + 17 + total > pos + len) return null
            val vals = new Array[Int](total)
            i = 0
            while (i < total) { vals(i) = b(o + 17 + i) & 0xff; i += 1 }
            val t = new HuffTable(bits, vals)
            if (tc == 0) dcTabs(th) = t else acTabs(th) = t
            o += 17 + total
          }
          pos += len
        case 0xc0 | 0xc1 => // SOF0 baseline / SOF1 extended sequential
          if (sawSof) return null
          sawSof = true
          if (pos + 2 > b.length) return null
          val len = u16(pos); if (len < 2 || pos + len > b.length) return null
          if (len < 8) return null
          if ((b(pos + 2) & 0xff) != 8) return null // precision
          height = u16(pos + 3); width = u16(pos + 5)
          val nc = b(pos + 7) & 0xff
          if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
          if (nc != 1 && nc != 3) return null
          if (len != 8 + 3 * nc) return null
          comps = Array.fill(nc)(new Component)
          var i = 0
          while (i < nc) {
            val c = comps(i)
            c.id = b(pos + 8 + 3 * i) & 0xff
            val hv = b(pos + 9 + 3 * i) & 0xff
            c.h = hv >>> 4; c.v = hv & 0x0f
            c.tq = b(pos + 10 + 3 * i) & 0xff
            if (c.h < 1 || c.h > 2 || c.v < 1 || c.v > 2 || c.tq > 3) return null
            i += 1
          }
          pos += len
        case 0xc2 | 0xc3 | 0xc5 | 0xc6 | 0xc7 | 0xc9 | 0xca | 0xcb |
             0xcd | 0xce | 0xcf =>
          return null // progressive / arithmetic / hierarchical: unsupported
        case 0xdd => // DRI
          if (pos + 2 > b.length) return null
          val len = u16(pos); if (len != 4 || pos + len > b.length) return null
          restartInterval = u16(pos + 2)
          pos += len
        case 0xda => // SOS — decode the (single, interleaved) scan
          if (!sawSof) return null
          if (pos + 2 > b.length) return null
          val len = u16(pos); if (len < 2 || pos + len > b.length) return null
          val ns = b(pos + 2) & 0xff
          if (ns != comps.length || len != 6 + 2 * ns) return null
          var i = 0
          while (i < ns) {
            val cid = b(pos + 3 + 2 * i) & 0xff
            val tt = b(pos + 4 + 2 * i) & 0xff
            val c = comps.find(_.id == cid).orNull
            if (c == null) return null
            c.dcTab = tt >>> 4; c.acTab = tt & 0x0f
            if (c.dcTab > 3 || c.acTab > 3) return null
            if (dcTabs(c.dcTab) == null || acTabs(c.acTab) == null) return null
            if (quant(c.tq) == null) return null
            i += 1
          }
          // Ss/Se/AhAl must be the sequential 0/63/0
          if ((b(pos + 3 + 2 * ns) & 0xff) != 0 ||
            (b(pos + 4 + 2 * ns) & 0xff) != 63 ||
            (b(pos + 5 + 2 * ns) & 0xff) != 0) return null
          pos += len
          return decodeScan(b, pos, width, height, comps, quant, dcTabs,
            acTabs, restartInterval)
        case _ => return null
      }
    }
    null
  }

  private def decodeScan(b: Array[Byte], scanPos: Int, width: Int, height: Int,
                         comps: Array[Component], quant: Array[Array[Int]],
                         dcTabs: Array[HuffTable], acTabs: Array[HuffTable],
                         restartInterval: Int): Rgb = {
    val maxH = comps.map(_.h).max
    val maxV = comps.map(_.v).max
    val mcusX = (width + 8 * maxH - 1) / (8 * maxH)
    val mcusY = (height + 8 * maxV - 1) / (8 * maxV)
    comps.foreach { c =>
      c.planeW = mcusX * c.h * 8
      c.planeH = mcusY * c.v * 8
      c.plane = new Array[Byte](c.planeW * c.planeH)
    }
    val br = new BitReader(b, scanPos)
    val coef = new Array[Int](64)
    val pix = new Array[Double](64)
    val tmp = new Array[Double](64)
    var mcu = 0
    val nMcus = mcusX * mcusY
    var rstIdx = 0
    while (mcu < nMcus) {
      if (restartInterval > 0 && mcu > 0 && mcu % restartInterval == 0) {
        if (!br.restart(rstIdx)) return null
        rstIdx = (rstIdx + 1) & 7
        comps.foreach(_.pred = 0)
      }
      val my = mcu / mcusX
      val mx = mcu % mcusX
      var ci = 0
      while (ci < comps.length) {
        val c = comps(ci)
        val q = quant(c.tq)
        var by = 0
        while (by < c.v) {
          var bx = 0
          while (bx < c.h) {
            // ---- one 8x8 block: Huffman → dequant → IDCT → plane
            java.util.Arrays.fill(coef, 0)
            val dcMag = decodeSym(br, dcTabs(c.dcTab))
            if (dcMag < 0 || dcMag > 11) return null
            val dcBits = br.receive(dcMag)
            if (dcBits == Int.MinValue) return null
            c.pred += extend(dcBits, dcMag)
            coef(0) = c.pred * q(0)
            var k = 1
            var done = false
            while (!done && k < 64) {
              val rs = decodeSym(br, acTabs(c.acTab))
              if (rs < 0) return null
              val r = rs >>> 4; val s = rs & 0x0f
              if (s == 0) {
                if (r == 15) k += 16 else done = true // ZRL / EOB
              } else {
                k += r
                if (k > 63) return null
                val vBits = br.receive(s)
                if (vBits == Int.MinValue) return null
                coef(Zigzag(k)) = extend(vBits, s) * q(Zigzag(k))
                k += 1
              }
            }
            if (k > 64) return null
            // IDCT: columns then rows against the transposed basis
            var x = 0
            while (x < 8) {
              var y = 0
              while (y < 8) {
                var s2 = 0.0; var u = 0
                while (u < 8) { s2 += coef(u * 8 + x) * CosTab(u)(y); u += 1 }
                tmp(y * 8 + x) = s2
                y += 1
              }
              x += 1
            }
            var y2 = 0
            while (y2 < 8) {
              var x2 = 0
              while (x2 < 8) {
                var s2 = 0.0; var u = 0
                while (u < 8) { s2 += tmp(y2 * 8 + u) * CosTab(u)(x2); u += 1 }
                pix(y2 * 8 + x2) = s2
                x2 += 1
              }
              y2 += 1
            }
            val ox = (mx * c.h + bx) * 8
            val oy = (my * c.v + by) * 8
            var yy = 0
            while (yy < 8) {
              var xx = 0
              while (xx < 8) {
                val v = math.max(0, math.min(255,
                  math.round(pix(yy * 8 + xx) + 128.0).toInt))
                c.plane((oy + yy) * c.planeW + ox + xx) = v.toByte
                xx += 1
              }
              yy += 1
            }
            bx += 1
          }
          by += 1
        }
        ci += 1
      }
      mcu += 1
    }
    // Scan must be followed (modulo fill bytes) by EOI, and EOI must end
    // the file — same strictness as the PNG walker.
    var p = br.alignPos()
    while (p + 1 < b.length && (b(p) & 0xff) == 0xff && (b(p + 1) & 0xff) == 0xff) p += 1
    if (p + 2 != b.length) return null
    if ((b(p) & 0xff) != 0xff || (b(p + 1) & 0xff) != 0xd9) return null

    // Reassemble: nearest (replication) chroma upsample + YCbCr→RGB in
    // 16-bit fixed point (deterministic, no FP in the color path).
    val raw = new Array[Byte](width * height * 3)
    if (comps.length == 1) {
      val c = comps(0)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val v = c.plane(y * c.planeW + x)
          val o = (y * width + x) * 3
          raw(o) = v; raw(o + 1) = v; raw(o + 2) = v
          x += 1
        }
        y += 1
      }
    } else {
      val cy = comps(0); val cb = comps(1); val cr = comps(2)
      var y = 0
      while (y < height) {
        var x = 0
        while (x < width) {
          val lum = cy.plane((y * cy.v / maxV) * cy.planeW + (x * cy.h / maxH)) & 0xff
          val pb = (cb.plane((y * cb.v / maxV) * cb.planeW + (x * cb.h / maxH)) & 0xff) - 128
          val pr = (cr.plane((y * cr.v / maxV) * cr.planeW + (x * cr.h / maxH)) & 0xff) - 128
          val r = lum + ((91881 * pr + 32768) >> 16)
          val g = lum - ((22554 * pb + 46802 * pr + 32768) >> 16)
          val bl = lum + ((116130 * pb + 32768) >> 16)
          val o = (y * width + x) * 3
          raw(o) = math.max(0, math.min(255, r)).toByte
          raw(o + 1) = math.max(0, math.min(255, g)).toByte
          raw(o + 2) = math.max(0, math.min(255, bl)).toByte
          x += 1
        }
        y += 1
      }
    }
    new Rgb(width, height, raw)
  }

  /** Decode a baseline JPEG and return (width, height, sum_r, sum_g,
    * sum_b); null on anything malformed or unsupported. */
  def jpegStats(b: Array[Byte]): InternalRow = {
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
}
