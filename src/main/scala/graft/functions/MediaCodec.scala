package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types._

/** REAL pure-JVM media codecs for the multimodal pipeline — no native
  * libraries, no stubs: [[MediaCodec.bmpStats]] walks an actual 24-bit
  * uncompressed BMP (magic, data offset, BITMAPINFOHEADER, bottom-up vs
  * top-down orientation, 4-byte row padding) and [[MediaCodec.wavStats]]
  * walks an actual RIFF/WAVE container (chunk list with word alignment,
  * `fmt ` PCM validation, `data` payload) — the two mainstream media
  * formats that are byte-parseable without a codec library. Compressed
  * formats (JPEG/MP3/H.264) still need external codecs and remain behind
  * the clearly-marked stubs in [[graft.ops.Multimodal]].
  *
  * The matching encoders build spec-conformant files from a deterministic
  * pixel/sample formula, which is what makes decode ORACLE-CHECKABLE: the
  * DuckDB side computes the same formula in closed form (q97/q98), so a
  * decoder that misreads the header, drops row padding, or mis-signs a
  * sample hash-mismatches the driver's correctness gate. All stats are
  * integer sums — no float drift across engines.
  *
  * Each `graft_*` function is a row of [[GraftExtensions]]' table: ONE
  * static call of a method here per row from inside whole-stage codegen
  * (no UDF serialization, no interpreted fallback on the hot path).
  */
object MediaCodec {

  private def le16(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8)
  private def le32(b: Array[Byte], o: Int): Int =
    (b(o) & 0xff) | ((b(o + 1) & 0xff) << 8) |
      ((b(o + 2) & 0xff) << 16) | ((b(o + 3) & 0xff) << 24)
  private def putLe16(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
  }
  private def putLe32(b: Array[Byte], o: Int, v: Int): Unit = {
    b(o) = v.toByte; b(o + 1) = (v >> 8).toByte
    b(o + 2) = (v >> 16).toByte; b(o + 3) = (v >> 24).toByte
  }

  /** Pixel formula shared with the q97 oracle: channel value at image
    * coordinate (x, y), y = 0 the TOP row. */
  @inline private def px(seed: Long, x: Int, y: Int, cx: Int, cy: Int): Int =
    java.lang.Math.floorMod(seed + cx.toLong * x + cy.toLong * y, 256L).toInt

  /** Largest encodable dimension — caps a single payload at ~48 MB. */
  val MaxDim = 4096

  /** Spec-conformant 24-bit uncompressed BMP: 14-byte file header + 40-byte
    * BITMAPINFOHEADER + bottom-up BGR rows padded to 4 bytes. */
  def bmpEncode(seed: Long, width: Int, height: Int): Array[Byte] = {
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    val rowSize = ((width * 3 + 3) / 4) * 4
    val dataSize = rowSize * height
    val b = new Array[Byte](54 + dataSize)
    b(0) = 'B'; b(1) = 'M'
    putLe32(b, 2, 54 + dataSize) // file size
    putLe32(b, 10, 54)           // pixel data offset
    putLe32(b, 14, 40)           // BITMAPINFOHEADER size
    putLe32(b, 18, width)
    putLe32(b, 22, height)       // positive: bottom-up row order
    putLe16(b, 26, 1)            // planes
    putLe16(b, 28, 24)           // bits per pixel
    putLe32(b, 30, 0)            // BI_RGB (uncompressed)
    putLe32(b, 34, dataSize)
    putLe32(b, 38, 2835); putLe32(b, 42, 2835) // 72 DPI in px/metre
    var row = 0
    while (row < height) {
      val y = height - 1 - row // stored bottom-up
      val off = 54 + row * rowSize
      var x = 0
      while (x < width) {
        b(off + 3 * x) = px(seed, x, y, 2, 3).toByte       // B
        b(off + 3 * x + 1) = px(seed, x, y, 5, 7).toByte   // G
        b(off + 3 * x + 2) = px(seed, x, y, 11, 13).toByte // R
        x += 1
      }
      row += 1
    }
    b
  }

  /** Parse a 24-bit uncompressed BMP and return
    * (width, height, sum_r, sum_g, sum_b); null on anything malformed —
    * wrong magic, truncated header, unsupported bpp/compression, or pixel
    * data running past the buffer. Handles both bottom-up (height > 0)
    * and top-down (height < 0) orientation and the 4-byte row padding. */
  def bmpStats(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    val dataOffset = le32(b, 10)
    val headerSize = le32(b, 14)
    val width = le32(b, 18)
    val heightRaw = le32(b, 22)
    val planes = le16(b, 26)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (headerSize < 40 || planes != 1 || bpp != 24 || compression != 0) return null
    val height = math.abs(heightRaw)
    // height <= 0, not == 0: math.abs(Int.MinValue) is still negative, and
    // a negative "height" must reject as malformed, not slip past the
    // MaxDim bound (the null-on-malformed contract).
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    val rowSize = ((width * 3 + 3) / 4) * 4
    if (dataOffset < 54 || dataOffset.toLong + rowSize.toLong * height > b.length) return null
    var sumR = 0L; var sumG = 0L; var sumB = 0L
    var row = 0
    while (row < height) {
      val off = dataOffset + row * rowSize
      var x = 0
      while (x < width) {
        sumB += b(off + 3 * x) & 0xff
        sumG += b(off + 3 * x + 1) & 0xff
        sumR += b(off + 3 * x + 2) & 0xff
        x += 1
      }
      row += 1
    }
    InternalRow(width, height, sumR, sumG, sumB)
  }

  /** The decoded pixel array itself — (width, height, pix) with `pix` a
    * flattened row-major top-down RGB interleave (length w·h·3, pixel
    * (x, y) channel c at index (y·w + x)·3 + c) — the input every
    * downstream image feature extractor (patchify, pooling, stats)
    * consumes. Same validation and orientation handling as [[bmpStats]];
    * null on malformed input. */
  def bmpPixels(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    val dataOffset = le32(b, 10)
    val headerSize = le32(b, 14)
    val width = le32(b, 18)
    val heightRaw = le32(b, 22)
    val planes = le16(b, 26)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (headerSize < 40 || planes != 1 || bpp != 24 || compression != 0) return null
    val height = math.abs(heightRaw)
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    val topDown = heightRaw < 0
    val rowSize = ((width * 3 + 3) / 4) * 4
    if (dataOffset < 54 || dataOffset.toLong + rowSize.toLong * height > b.length) return null
    val pix = new Array[Int](width * height * 3)
    var y = 0
    while (y < height) { // image y, 0 = top
      val srcRow = if (topDown) y else height - 1 - y
      val off = dataOffset + srcRow * rowSize
      var x = 0
      while (x < width) {
        val o = (y * width + x) * 3
        pix(o) = b(off + 3 * x + 2) & 0xff     // R
        pix(o + 1) = b(off + 3 * x + 1) & 0xff // G
        pix(o + 2) = b(off + 3 * x) & 0xff     // B
        x += 1
      }
      y += 1
    }
    InternalRow(width, height,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(pix))
  }

  val bmpPixelsType: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("pix", ArrayType(IntegerType, containsNull = false))))

  /** Frame-f pixel formula for video assets: the [[px]] gradient with a
    * per-frame seed offset, so every frame is distinct but closed-form. */
  @inline private def fpx(seed: Long, f: Int, x: Int, y: Int, cx: Int, cy: Int): Int =
    px(seed + 1000003L * f, x, y, cx, cy)

  val MaxFrames = 4096

  /** Spec-conformant AVI (RIFF 'AVI ') with an uncompressed 24-bit DIB
    * video stream — the video container that is byte-parseable without a
    * codec library: LIST hdrl (avih main header + strl with a 'vids'/
    * 'DIB ' stream header and BITMAPINFOHEADER), LIST movi with one
    * '00db' chunk per frame (bottom-up BGR rows, BMP row padding), and
    * the idx1 index real players expect. Frame content is the [[px]]
    * gradient shifted per frame. */
  def aviEncode(seed: Long, width: Int, height: Int, nFrames: Int): Array[Byte] = {
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    if (nFrames <= 0 || nFrames > MaxFrames) return null
    val rowSize = ((width * 3 + 3) / 4) * 4
    val frameSize = rowSize * height
    val hdrlSize = 4 + 8 + 56 + (8 + 4 + 8 + 56 + 8 + 40) // 'hdrl'+avih+strl LIST
    // Size the file in Long first: width/height/nFrames each pass their
    // individual bounds, but the product (e.g. 4096×4096×43 frames ≈
    // 2.2 GB) overflows Int, yielding a negative array size inside
    // codegen instead of this family's null-on-invalid contract.
    val moviSizeL = 4L + nFrames.toLong * (8L + frameSize.toLong)
    val idx1Size = nFrames * 16
    val riffSizeL = 4L + 8L + hdrlSize + 8L + moviSizeL + 8L + idx1Size
    if (8L + riffSizeL > Int.MaxValue) return null
    val moviSize = moviSizeL.toInt
    val riffSize = riffSizeL.toInt
    val b = new Array[Byte](8 + riffSize)
    var p = 0
    def fourcc(s: String): Unit = { var i = 0; while (i < 4) { b(p) = s.charAt(i).toByte; p += 1; i += 1 } }
    def le32v(v: Int): Unit = { putLe32(b, p, v); p += 4 }
    fourcc("RIFF"); le32v(riffSize); fourcc("AVI ")
    fourcc("LIST"); le32v(hdrlSize); fourcc("hdrl")
    fourcc("avih"); le32v(56)
    le32v(40000)            // dwMicroSecPerFrame: 25 fps
    le32v(frameSize * 25)   // dwMaxBytesPerSec
    le32v(0)                // dwPaddingGranularity
    le32v(0x10)             // dwFlags: AVIF_HASINDEX
    le32v(nFrames)          // dwTotalFrames
    le32v(0)                // dwInitialFrames
    le32v(1)                // dwStreams
    le32v(frameSize)        // dwSuggestedBufferSize
    le32v(width); le32v(height)
    le32v(0); le32v(0); le32v(0); le32v(0) // dwReserved
    fourcc("LIST"); le32v(4 + 8 + 56 + 8 + 40); fourcc("strl")
    fourcc("strh"); le32v(56)
    fourcc("vids"); fourcc("DIB ")
    le32v(0)                // dwFlags
    le32v(0)                // wPriority/wLanguage
    le32v(0)                // dwInitialFrames
    le32v(1)                // dwScale
    le32v(25)               // dwRate: 25 fps
    le32v(0)                // dwStart
    le32v(nFrames)          // dwLength
    le32v(frameSize)        // dwSuggestedBufferSize
    le32v(-1)               // dwQuality
    le32v(0)                // dwSampleSize
    le32v(0); le32v(0)      // rcFrame
    fourcc("strf"); le32v(40)
    le32v(40); le32v(width); le32v(height)
    putLe16(b, p, 1); p += 2      // planes
    putLe16(b, p, 24); p += 2     // bpp
    le32v(0)                      // BI_RGB
    le32v(frameSize)
    le32v(2835); le32v(2835); le32v(0); le32v(0)
    fourcc("LIST"); le32v(moviSize); fourcc("movi")
    val frameOffsets = new Array[Int](nFrames)
    var f = 0
    while (f < nFrames) {
      frameOffsets(f) = p - (8 + 4 + 8 + hdrlSize + 8 + 4) + 4 // offset from movi LIST data start, idx1 convention: from 'movi' fourcc
      fourcc("00db"); le32v(frameSize)
      var row = 0
      while (row < height) {
        val y = height - 1 - row // bottom-up like BMP
        val off = p + row * rowSize
        var x = 0
        while (x < width) {
          b(off + 3 * x) = fpx(seed, f, x, y, 2, 3).toByte
          b(off + 3 * x + 1) = fpx(seed, f, x, y, 5, 7).toByte
          b(off + 3 * x + 2) = fpx(seed, f, x, y, 11, 13).toByte
          x += 1
        }
        row += 1
      }
      p += frameSize
      f += 1
    }
    fourcc("idx1"); le32v(idx1Size)
    f = 0
    while (f < nFrames) {
      fourcc("00db"); le32v(0x10) // AVIIF_KEYFRAME
      le32v(frameOffsets(f)); le32v(frameSize)
      f += 1
    }
    b
  }

  /** Parse an uncompressed-DIB AVI and return (width, height, n_frames,
    * frames) where `frames` is the per-frame (sum_r, sum_g, sum_b) array
    * — the whole-container decode a frame-sampling pipeline consumes in
    * ONE parse. Validates RIFF/AVI magic, the avih/strh/strf chain
    * (vids + 24-bit BI_RGB), and every '00db' frame chunk against the
    * declared geometry; null on malformed input. */
  def aviStats(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'A' || b(9) != 'V' || b(10) != 'I' || b(11) != ' ') return null
    def fcc(o: Int, s: String): Boolean =
      o + 4 <= b.length && (0 until 4).forall(i => b(o + i) == s.charAt(i).toByte)
    var width = -1; var height = -1; var totalFrames = -1
    var vidsOk = false; var bppOk = false
    var moviOff = -1; var moviEnd = -1
    // top-level chunk walk
    var pos = 12
    while (pos + 8 <= b.length && moviOff < 0) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      if (fcc(pos, "LIST") && size >= 4) {
        if (fcc(pos + 8, "hdrl")) {
          // walk hdrl children
          var q = pos + 12
          val end = pos + 8 + size
          while (q + 8 <= end) {
            val csz = le32(b, q + 4)
            if (csz < 0 || q + 8 + csz > end) return null
            if (fcc(q, "avih") && csz >= 40) {
              totalFrames = le32(b, q + 8 + 16)
              width = le32(b, q + 8 + 32)
              height = le32(b, q + 8 + 36)
            } else if (fcc(q, "LIST") && csz >= 4 && fcc(q + 8, "strl")) {
              var r = q + 12
              val send = q + 8 + csz
              while (r + 8 <= send) {
                val ssz = le32(b, r + 4)
                if (ssz < 0 || r + 8 + ssz > send) return null
                if (fcc(r, "strh") && ssz >= 8 && fcc(r + 8, "vids")) vidsOk = true
                if (fcc(r, "strf") && ssz >= 40 &&
                  le16(b, r + 8 + 14) == 24 && le32(b, r + 8 + 16) == 0) bppOk = true
                r += 8 + ssz + (ssz & 1)
              }
            }
            q += 8 + csz + (csz & 1)
          }
        } else if (fcc(pos + 8, "movi")) {
          moviOff = pos + 12; moviEnd = pos + 8 + size
        }
      }
      pos += 8 + size + (size & 1)
    }
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    if (totalFrames <= 0 || totalFrames > MaxFrames || !vidsOk || !bppOk ||
      moviOff < 0) return null
    val rowSize = ((width * 3 + 3) / 4) * 4
    val frameSize = rowSize * height
    val sums = new Array[InternalRow](totalFrames)
    var f = 0
    var q = moviOff
    while (f < totalFrames) {
      if (q + 8 > moviEnd) return null
      val csz = le32(b, q + 4)
      if (csz < 0 || q + 8 + csz > moviEnd) return null
      if (fcc(q, "00db")) {
        if (csz != frameSize) return null
        var sumR = 0L; var sumG = 0L; var sumB = 0L
        var row = 0
        while (row < height) {
          val off = q + 8 + row * rowSize
          var x = 0
          while (x < width) {
            sumB += b(off + 3 * x) & 0xff
            sumG += b(off + 3 * x + 1) & 0xff
            sumR += b(off + 3 * x + 2) & 0xff
            x += 1
          }
          row += 1
        }
        sums(f) = InternalRow(sumR, sumG, sumB)
        f += 1
      }
      q += 8 + csz + (csz & 1)
    }
    InternalRow(width, height, totalFrames,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        sums.asInstanceOf[Array[Any]]))
  }

  val aviStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("n_frames", IntegerType),
    StructField("frames", ArrayType(StructType(Seq(
      StructField("sum_r", LongType), StructField("sum_g", LongType),
      StructField("sum_b", LongType))), containsNull = false))))

  /** Motion-JPEG AVI — the same RIFF 'AVI ' container as [[aviEncode]],
    * but the video stream is COMPRESSED: fccHandler/biCompression 'MJPG'
    * and one complete baseline JFIF file per '00dc' chunk (each frame
    * independently decodable — MJPEG's defining property, and why it is
    * the video format a VLM scrape pipeline most often ingests short of
    * H.264). Frame f's image is [[JpegCodec.jpegEncode]] at seed +
    * 1000003·f, so per-frame content is distinct but closed-form for the
    * oracle. Variable-size chunks are RIFF word-aligned; idx1 records
    * the true (unpadded) sizes. */
  def mjpegEncode(seed: Long, width: Int, height: Int, nFrames: Int): Array[Byte] = {
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    if (nFrames <= 0 || nFrames > MaxFrames) return null
    val frames = new Array[Array[Byte]](nFrames)
    var maxFrame = 0
    var payloadL = 0L
    var f = 0
    while (f < nFrames) {
      val j = JpegCodec.jpegEncode(seed + 1000003L * f, width, height)
      if (j == null) return null
      frames(f) = j
      if (j.length > maxFrame) maxFrame = j.length
      payloadL += 8L + j.length + (j.length & 1)
      f += 1
    }
    val hdrlSize = 4 + 8 + 56 + (8 + 4 + 8 + 56 + 8 + 40) // 'hdrl'+avih+strl LIST
    val moviSizeL = 4L + payloadL
    val idx1Size = nFrames * 16
    val riffSizeL = 4L + 8L + hdrlSize + 8L + moviSizeL + 8L + idx1Size
    if (8L + riffSizeL > Int.MaxValue) return null
    val moviSize = moviSizeL.toInt
    val riffSize = riffSizeL.toInt
    val b = new Array[Byte](8 + riffSize)
    var p = 0
    def fourcc(s: String): Unit = { var i = 0; while (i < 4) { b(p) = s.charAt(i).toByte; p += 1; i += 1 } }
    def le32v(v: Int): Unit = { putLe32(b, p, v); p += 4 }
    fourcc("RIFF"); le32v(riffSize); fourcc("AVI ")
    fourcc("LIST"); le32v(hdrlSize); fourcc("hdrl")
    fourcc("avih"); le32v(56)
    le32v(40000)            // dwMicroSecPerFrame: 25 fps
    le32v(math.min(Int.MaxValue.toLong, 25L * maxFrame).toInt) // dwMaxBytesPerSec
    le32v(0)                // dwPaddingGranularity
    le32v(0x10)             // dwFlags: AVIF_HASINDEX
    le32v(nFrames)          // dwTotalFrames
    le32v(0)                // dwInitialFrames
    le32v(1)                // dwStreams
    le32v(maxFrame)         // dwSuggestedBufferSize
    le32v(width); le32v(height)
    le32v(0); le32v(0); le32v(0); le32v(0) // dwReserved
    fourcc("LIST"); le32v(4 + 8 + 56 + 8 + 40); fourcc("strl")
    fourcc("strh"); le32v(56)
    fourcc("vids"); fourcc("MJPG")
    le32v(0)                // dwFlags
    le32v(0)                // wPriority/wLanguage
    le32v(0)                // dwInitialFrames
    le32v(1)                // dwScale
    le32v(25)               // dwRate: 25 fps
    le32v(0)                // dwStart
    le32v(nFrames)          // dwLength
    le32v(maxFrame)         // dwSuggestedBufferSize
    le32v(-1)               // dwQuality
    le32v(0)                // dwSampleSize
    le32v(0); le32v(0)      // rcFrame
    fourcc("strf"); le32v(40)
    le32v(40); le32v(width); le32v(height)
    putLe16(b, p, 1); p += 2      // planes
    putLe16(b, p, 24); p += 2     // bpp
    fourcc("MJPG")                // biCompression
    le32v(maxFrame)               // biSizeImage (largest frame)
    le32v(2835); le32v(2835); le32v(0); le32v(0)
    fourcc("LIST"); le32v(moviSize); fourcc("movi")
    val moviFourccPos = p - 4
    val frameOffsets = new Array[Int](nFrames)
    f = 0
    while (f < nFrames) {
      frameOffsets(f) = p - moviFourccPos // idx1 convention: from 'movi' fourcc
      val j = frames(f)
      fourcc("00dc"); le32v(j.length)
      System.arraycopy(j, 0, b, p, j.length)
      p += j.length + (j.length & 1) // pad byte (already zero) on odd size
      f += 1
    }
    fourcc("idx1"); le32v(idx1Size)
    f = 0
    while (f < nFrames) {
      fourcc("00dc"); le32v(0x10) // AVIIF_KEYFRAME: every MJPEG frame
      le32v(frameOffsets(f)); le32v(frames(f).length)
      f += 1
    }
    b
  }

  /** Parse an MJPEG AVI and return the same shape as [[aviStats]]:
    * (width, height, n_frames, per-frame channel sums) — but each
    * '00dc' chunk runs through the REAL baseline JPEG decoder
    * ([[JpegCodec]] Huffman + dequant + IDCT). Validates the container
    * chain (vids stream with 'MJPG' handler, 24-bpp 'MJPG'
    * BITMAPINFOHEADER) and that every frame decodes to the declared
    * geometry; null on malformed input. */
  def mjpegStats(b: Array[Byte]): InternalRow = {
    if (b == null || b.length < 12) return null
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'A' || b(9) != 'V' || b(10) != 'I' || b(11) != ' ') return null
    def fcc(o: Int, s: String): Boolean =
      o + 4 <= b.length && (0 until 4).forall(i => b(o + i) == s.charAt(i).toByte)
    var width = -1; var height = -1; var totalFrames = -1
    var vidsOk = false; var cmpOk = false
    var moviOff = -1; var moviEnd = -1
    var pos = 12
    while (pos + 8 <= b.length && moviOff < 0) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      if (fcc(pos, "LIST") && size >= 4) {
        if (fcc(pos + 8, "hdrl")) {
          var q = pos + 12
          val end = pos + 8 + size
          while (q + 8 <= end) {
            val csz = le32(b, q + 4)
            if (csz < 0 || q + 8 + csz > end) return null
            if (fcc(q, "avih") && csz >= 40) {
              totalFrames = le32(b, q + 8 + 16)
              width = le32(b, q + 8 + 32)
              height = le32(b, q + 8 + 36)
            } else if (fcc(q, "LIST") && csz >= 4 && fcc(q + 8, "strl")) {
              var r = q + 12
              val send = q + 8 + csz
              while (r + 8 <= send) {
                val ssz = le32(b, r + 4)
                if (ssz < 0 || r + 8 + ssz > send) return null
                if (fcc(r, "strh") && ssz >= 12 && fcc(r + 8, "vids") &&
                  fcc(r + 12, "MJPG")) vidsOk = true
                if (fcc(r, "strf") && ssz >= 40 &&
                  le16(b, r + 8 + 14) == 24 && fcc(r + 8 + 16, "MJPG")) cmpOk = true
                r += 8 + ssz + (ssz & 1)
              }
            }
            q += 8 + csz + (csz & 1)
          }
        } else if (fcc(pos + 8, "movi")) {
          moviOff = pos + 12; moviEnd = pos + 8 + size
        }
      }
      pos += 8 + size + (size & 1)
    }
    if (width <= 0 || height <= 0 || width > MaxDim || height > MaxDim) return null
    if (totalFrames <= 0 || totalFrames > MaxFrames || !vidsOk || !cmpOk ||
      moviOff < 0) return null
    val sums = new Array[InternalRow](totalFrames)
    var f = 0
    var q = moviOff
    while (f < totalFrames) {
      if (q + 8 > moviEnd) return null
      val csz = le32(b, q + 4)
      if (csz < 0 || q + 8 + csz > moviEnd) return null
      if (fcc(q, "00dc")) {
        val st = JpegCodec.jpegStats(
          java.util.Arrays.copyOfRange(b, q + 8, q + 8 + csz))
        if (st == null || st.getInt(0) != width || st.getInt(1) != height)
          return null
        sums(f) = InternalRow(st.getLong(2), st.getLong(3), st.getLong(4))
        f += 1
      }
      q += 8 + csz + (csz & 1)
    }
    InternalRow(width, height, totalFrames,
      new org.apache.spark.sql.catalyst.util.GenericArrayData(
        sums.asInstanceOf[Array[Any]]))
  }

  /** Sample formula shared with the q98 oracle: signed 16-bit PCM sample i. */
  @inline private def sample(seed: Long, i: Int): Int =
    java.lang.Math.floorMod(seed + 17L * i, 65536L).toInt - 32768

  val MaxSamples = 16 * 1024 * 1024

  /** Spec-conformant RIFF/WAVE: `fmt ` chunk (PCM, mono, 16-bit) +
    * `data` chunk of little-endian signed samples. */
  def wavEncode(seed: Long, nSamples: Int, sampleRate: Int): Array[Byte] = {
    if (nSamples <= 0 || nSamples > MaxSamples || sampleRate <= 0) return null
    val dataSize = nSamples * 2
    val b = new Array[Byte](44 + dataSize)
    b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
    putLe32(b, 4, 36 + dataSize)
    b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'
    b(12) = 'f'; b(13) = 'm'; b(14) = 't'; b(15) = ' '
    putLe32(b, 16, 16) // PCM fmt chunk body size
    putLe16(b, 20, 1)  // audio format: PCM
    putLe16(b, 22, 1)  // channels: mono
    putLe32(b, 24, sampleRate)
    putLe32(b, 28, sampleRate * 2) // byte rate
    putLe16(b, 32, 2)  // block align
    putLe16(b, 34, 16) // bits per sample
    b(36) = 'd'; b(37) = 'a'; b(38) = 't'; b(39) = 'a'
    putLe32(b, 40, dataSize)
    var i = 0
    while (i < nSamples) {
      putLe16(b, 44 + 2 * i, sample(seed, i) & 0xffff)
      i += 1
    }
    b
  }

  /** G.711 μ-law COMPRESS: 16-bit signed PCM → 8-bit code. The standard
    * CCITT recurrence (bias 0x84, clip 32635, segment = bit position of
    * the biased magnitude's MSB above bit 7, 4-bit mantissa, all bits
    * complemented — positive codes carry sign bit 1). Pure integer, no
    * tables, so the q118 oracle replays it in closed-form SQL. */
  @inline def mulawCompress(s: Int): Int = {
    val neg = s < 0
    var mag = if (neg) -s else s // -32768 → 32768, clipped below
    if (mag > 32635) mag = 32635
    val v = mag + 0x84
    var e = 7
    while (e > 0 && (v >> (e + 7)) == 0) e -= 1
    val mantissa = (v >> (e + 3)) & 0xF
    val uval = (e << 4) | mantissa
    uval ^ (if (neg) 0x7F else 0xFF)
  }

  /** G.711 μ-law EXPAND: 8-bit code → 16-bit signed PCM — the exact
    * inverse table mapping ((mantissa·8 + 0x84) << segment) − 0x84 with
    * the sign from the complemented top bit. Matches the JDK's
    * independent javax.sound ULAW decoder byte-for-byte
    * (MediaCodecSpec interop test). */
  @inline def mulawExpand(code: Int): Int = {
    val u = ~code & 0xFF
    val e = (u >> 4) & 7
    val t = (((u & 0xF) << 3) + 0x84) << e
    if ((u & 0x80) != 0) 0x84 - t else t - 0x84
  }

  /** G.711 A-law COMPRESS: 16-bit signed PCM → 8-bit code — the European
    * half of G.711 (the CCITT reference recurrence: negative inputs map
    * through −s−8 clamped at 0, segment from the magnitude's MSB above
    * bit 8, 4-bit mantissa, alternate-bit inversion 0x55 with sign bit
    * 0x80 for non-negatives). Pure integer; the q119 oracle replays it
    * in closed-form SQL. */
  @inline def alawCompress(s: Int): Int = {
    val neg = s < 0
    var v = if (neg) -s - 8 else s // -32768 → 32760; small negatives clamp
    if (v < 0) v = 0
    var seg = 0
    while (seg < 7 && v > ((0xFF << seg) | ((1 << seg) - 1))) seg += 1
    val mantissa = if (seg < 2) (v >> 4) & 0xF else (v >> (seg + 3)) & 0xF
    ((seg << 4) | mantissa) ^ (if (neg) 0x55 else 0xD5)
  }

  /** G.711 A-law EXPAND: 8-bit code → 16-bit signed PCM — the exact
    * inverse mapping (mantissa·16 + 8 in segment 0, (mantissa·16 + 264)
    * · 2^(seg−1) above). Matches the JDK's independent javax.sound ALAW
    * decoder byte-for-byte (MediaCodecSpec interop test). */
  @inline def alawExpand(code: Int): Int = {
    val a = (code & 0xFF) ^ 0x55
    val seg = (a & 0x70) >> 4
    val mant = (a & 0xF) << 4
    val t =
      if (seg == 0) mant + 8
      else (mant + 0x108) << (seg - 1)
    if ((a & 0x80) != 0) t else -t
  }

  /** Spec-conformant COMPRESSED-audio WAVE: G.711 mono 8-bit (μ-law
    * format code 7 / A-law format code 6) — fmt chunk in its 18-byte
    * non-PCM form (cbSize=0), the `fact` chunk non-PCM formats require,
    * and one compressed byte per sample of the same deterministic PCM
    * formula [[wavEncode]] uses. A real telephony-grade file any audio
    * tool opens. */
  private def wavEncodeG711(seed: Long, nSamples: Int, sampleRate: Int,
                            fmtCode: Int): Array[Byte] = {
    if (nSamples <= 0 || nSamples > MaxSamples || sampleRate <= 0) return null
    val dataSize = nSamples
    val pad = dataSize & 1 // RIFF word alignment for the odd-size data chunk
    val b = new Array[Byte](12 + 26 + 12 + 8 + dataSize + pad)
    b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
    putLe32(b, 4, b.length - 8)
    b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'
    b(12) = 'f'; b(13) = 'm'; b(14) = 't'; b(15) = ' '
    putLe32(b, 16, 18) // non-PCM fmt chunk body: 16 + cbSize field
    putLe16(b, 20, fmtCode) // audio format: 7 = μ-law, 6 = A-law
    putLe16(b, 22, 1)  // channels: mono
    putLe32(b, 24, sampleRate)
    putLe32(b, 28, sampleRate) // byte rate: 1 byte per sample
    putLe16(b, 32, 1)  // block align
    putLe16(b, 34, 8)  // bits per sample
    putLe16(b, 36, 0)  // cbSize: no format extension
    b(38) = 'f'; b(39) = 'a'; b(40) = 'c'; b(41) = 't'
    putLe32(b, 42, 4)
    putLe32(b, 46, nSamples) // fact: sample count
    b(50) = 'd'; b(51) = 'a'; b(52) = 't'; b(53) = 'a'
    putLe32(b, 54, dataSize)
    var i = 0
    while (i < nSamples) {
      val s = sample(seed, i)
      b(58 + i) = (if (fmtCode == 7) mulawCompress(s) else alawCompress(s)).toByte
      i += 1
    }
    b
  }

  def wavEncodeUlaw(seed: Long, nSamples: Int, sampleRate: Int): Array[Byte] =
    wavEncodeG711(seed, nSamples, sampleRate, 7)

  def wavEncodeAlaw(seed: Long, nSamples: Int, sampleRate: Int): Array[Byte] =
    wavEncodeG711(seed, nSamples, sampleRate, 6)

  /** The IMA/DVI ADPCM step-size table (89 entries) and index-adjustment
    * table — spec-defined literal constants, shared by compress and
    * expand, and replayed as list literals by the q121 oracle. */
  private val ImaStep: Array[Int] = Array(
    7, 8, 9, 10, 11, 12, 13, 14, 16, 17, 19, 21, 23, 25, 28, 31, 34, 37,
    41, 45, 50, 55, 60, 66, 73, 80, 88, 97, 107, 118, 130, 143, 157, 173,
    190, 209, 230, 253, 279, 307, 337, 371, 408, 449, 494, 544, 598, 658,
    724, 796, 876, 963, 1060, 1166, 1282, 1411, 1552, 1707, 1878, 2066,
    2272, 2499, 2749, 3024, 3327, 3660, 4026, 4428, 4871, 5358, 5894,
    6484, 7132, 7845, 8630, 9493, 10442, 11487, 12635, 13899, 15289,
    16818, 18500, 20350, 22385, 24623, 27086, 29794, 32767)
  private val ImaIndexAdj: Array[Int] = Array(-1, -1, -1, -1, 2, 4, 6, 8)

  /** One IMA ADPCM compress step: quantize `s - pred` to a 4-bit code at
    * the current step size. Returns the code; the caller advances state
    * with [[imaAdvance]] (the SAME reconstruction the decoder runs — the
    * encoder tracks the decoder's predictor exactly, which is what makes
    * the recurrence closed under replay). */
  @inline private def imaCompressStep(s: Int, pred: Int, idx: Int): Int = {
    val step = ImaStep(idx)
    var diff = s - pred
    var code = 0
    if (diff < 0) { code = 8; diff = -diff }
    if (diff >= step) { code |= 4; diff -= step }
    if (diff >= (step >> 1)) { code |= 2; diff -= step >> 1 }
    if (diff >= (step >> 2)) code |= 1
    code
  }

  /** Advance (pred, idx) by one 4-bit code — the decoder recurrence:
    * diffq = step/8 + step·b2 + step/2·b1 + step/4·b0, predictor clamped
    * to 16-bit, index clamped to the table. Returns packed
    * (newPred << 8) | newIdx (pred in the high bits keeps it one int). */
  @inline private def imaAdvance(code: Int, pred: Int, idx: Int): Long = {
    val step = ImaStep(idx)
    var diffq = step >> 3
    if ((code & 4) != 0) diffq += step
    if ((code & 2) != 0) diffq += step >> 1
    if ((code & 1) != 0) diffq += step >> 2
    var p = if ((code & 8) != 0) pred - diffq else pred + diffq
    if (p > 32767) p = 32767
    if (p < -32768) p = -32768
    var i = idx + ImaIndexAdj(code & 7)
    if (i < 0) i = 0
    if (i > 88) i = 88
    (p.toLong << 8) | i
  }

  /** Samples per IMA block at [[ImaBlockAlign]]: the stored header sample
    * plus 2 nibbles per remaining byte. */
  val ImaBlockAlign = 36
  val ImaSamplesPerBlock: Int = (ImaBlockAlign - 4) * 2 + 1 // 65

  /** Spec-conformant IMA/DVI ADPCM WAVE (format code 0x11, mono, 4-bit):
    * 20-byte fmt chunk (cbSize=2 extension carrying wSamplesPerBlock),
    * fact chunk with the true sample count, and block-aligned data —
    * each 36-byte block stores its first sample RAW in the 4-byte header
    * (int16 predictor, uint8 step index carried across blocks, reserved
    * 0) and the remaining 64 samples as 4-bit codes, low nibble first.
    * The final block is zero-padded; the fact count trims it on decode.
    * ~4:1 compression with a real adaptive-step state machine — the
    * midpoint between G.711 (memoryless) and the perceptual codecs that
    * stay stubbed. */
  def wavEncodeIma(seed: Long, nSamples: Int, sampleRate: Int): Array[Byte] = {
    if (nSamples <= 0 || nSamples > MaxSamples || sampleRate <= 0) return null
    val spb = ImaSamplesPerBlock
    val nBlocks = (nSamples + spb - 1) / spb
    val dataSize = nBlocks * ImaBlockAlign
    val byteRate = math.max(1, (sampleRate.toLong * ImaBlockAlign / spb).toInt)
    val b = new Array[Byte](12 + 28 + 12 + 8 + dataSize)
    b(0) = 'R'; b(1) = 'I'; b(2) = 'F'; b(3) = 'F'
    putLe32(b, 4, b.length - 8)
    b(8) = 'W'; b(9) = 'A'; b(10) = 'V'; b(11) = 'E'
    b(12) = 'f'; b(13) = 'm'; b(14) = 't'; b(15) = ' '
    putLe32(b, 16, 20)   // fmt body: 16 + cbSize field + 2-byte extension
    putLe16(b, 20, 0x11) // audio format: IMA/DVI ADPCM
    putLe16(b, 22, 1)    // channels: mono
    putLe32(b, 24, sampleRate)
    putLe32(b, 28, byteRate)
    putLe16(b, 32, ImaBlockAlign)
    putLe16(b, 34, 4)    // bits per sample
    putLe16(b, 36, 2)    // cbSize
    putLe16(b, 38, spb)  // wSamplesPerBlock
    b(40) = 'f'; b(41) = 'a'; b(42) = 'c'; b(43) = 't'
    putLe32(b, 44, 4)
    putLe32(b, 48, nSamples)
    b(52) = 'd'; b(53) = 'a'; b(54) = 't'; b(55) = 'a'
    putLe32(b, 56, dataSize)
    var idx = 0
    var pred = 0
    var i = 0
    var off = 60
    while (i < nSamples) {
      if (i % spb == 0) { // block header: raw first sample + carried index
        val s = sample(seed, i)
        putLe16(b, off, s & 0xffff)
        b(off + 2) = idx.toByte
        b(off + 3) = 0
        pred = s
        off += 4
        i += 1
      } else {
        var byte = 0
        var nib = 0
        while (nib < 2 && i % spb != 0 && i < nSamples) {
          val code = imaCompressStep(sample(seed, i), pred, idx)
          val st = imaAdvance(code, pred, idx)
          pred = (st >> 8).toInt
          idx = (st & 0xff).toInt
          byte |= code << (4 * nib)
          nib += 1
          i += 1
        }
        b(off) = byte.toByte
        off += 1
      }
    }
    b
  }

  /** Walk a RIFF/WAVE container — chunk-by-chunk with RIFF's odd-size word
    * padding, not fixed offsets, so files with extra chunks (LIST, fact)
    * parse too — validate the format (PCM/mono/16-bit; G.711 μ-law/A-law
    * mono 8-bit EXPANDED through the real [[mulawExpand]]/[[alawExpand]]
    * decoders; or IMA/DVI ADPCM mono 4-bit decoded block-by-block through
    * the adaptive-step state machine, the fact chunk trimming the padded
    * final block), and return (sample_rate, n_samples, sum_abs, peak)
    * over the decoded PCM; null on malformed input. */
  def wavStats(b: Array[Byte]): InternalRow = {
    val dec = wavDecode(b)
    if (dec == null) return null
    val (sampleRate, samples) = dec
    var sumAbs = 0L
    var peak = 0
    var i = 0
    while (i < samples.length) {
      val a = math.abs(samples(i))
      sumAbs += a
      if (a > peak) peak = a
      i += 1
    }
    InternalRow(sampleRate, samples.length.toLong, sumAbs, peak)
  }

  /** The decoded PCM sample array itself (plus sample rate) — the input
    * every downstream audio feature extractor (framing, energy, ZCR,
    * resample) consumes. Same validation as [[wavStats]]; null on
    * malformed input. */
  def wavSamples(b: Array[Byte]): org.apache.spark.sql.catalyst.util.GenericArrayData = {
    val dec = wavDecode(b)
    if (dec == null) return null
    new org.apache.spark.sql.catalyst.util.GenericArrayData(dec._2)
  }

  private def wavDecode(b: Array[Byte]): (Int, Array[Int]) = {
    if (b == null || b.length < 44) return null
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
    var pos = 12
    var sampleRate = -1
    var fmtCode = -1
    var blockAlign = -1
    var spb = -1
    var factN = -1
    var dataOff = -1
    var dataLen = -1
    // Walk ALL chunks to EOF, keeping the first fmt/data/fact seen — a
    // spec-legal WAVE may place its fact chunk AFTER data, and stopping
    // at fmt+data would lose factN (nulling a valid IMA ADPCM file).
    while (pos + 8 <= b.length) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      val isFmt = sampleRate < 0 &&
        b(pos) == 'f' && b(pos + 1) == 'm' && b(pos + 2) == 't' && b(pos + 3) == ' '
      val isFact = factN < 0 &&
        b(pos) == 'f' && b(pos + 1) == 'a' && b(pos + 2) == 'c' && b(pos + 3) == 't'
      val isData = dataOff < 0 &&
        b(pos) == 'd' && b(pos + 1) == 'a' && b(pos + 2) == 't' && b(pos + 3) == 'a'
      if (isFmt) {
        if (size < 16) return null
        val fmt = le16(b, pos + 8)
        val channels = le16(b, pos + 10)
        val bits = le16(b, pos + 22)
        if (channels != 1) return null
        if (!((fmt == 1 && bits == 16) ||
          ((fmt == 7 || fmt == 6) && bits == 8) ||
          (fmt == 0x11 && bits == 4))) return null
        fmtCode = fmt
        sampleRate = le32(b, pos + 12)
        blockAlign = le16(b, pos + 20)
        // IMA: the 2-byte fmt extension carries wSamplesPerBlock
        if (fmt == 0x11) {
          if (size < 20 || le16(b, pos + 24) < 2) return null
          spb = le16(b, pos + 26)
        }
      } else if (isFact) {
        if (size >= 4) factN = le32(b, pos + 8)
      } else if (isData) {
        dataOff = pos + 8; dataLen = size
      }
      pos += 8 + size + (size & 1) // RIFF: chunks are word-aligned
    }
    if (sampleRate <= 0 || dataOff < 0) return null
    if (fmtCode == 0x11) {
      // IMA ADPCM: consistency of block geometry, fact count, data size
      if (blockAlign < 5 || spb != (blockAlign - 4) * 2 + 1) return null
      if (dataLen % blockAlign != 0) return null
      val nBlocks = dataLen / blockAlign
      if (factN <= 0 || factN > nBlocks.toLong * spb ||
        factN <= (nBlocks - 1).toLong * spb) return null
      val out = new Array[Int](factN)
      var i = 0
      var blk = 0
      while (blk < nBlocks) {
        val boff = dataOff + blk * blockAlign
        var pred = (le16(b, boff) << 16) >> 16 // header sample, sign-extended
        var idx = b(boff + 2) & 0xff
        if (idx > 88 || b(boff + 3) != 0) return null
        out(i) = pred
        i += 1
        var k = 1 // sample index within block
        while (k < spb && i < factN) {
          val byte = b(boff + 4 + (k - 1) / 2) & 0xff
          val code = if ((k & 1) == 1) byte & 0xF else byte >> 4
          val st = imaAdvance(code, pred, idx)
          pred = (st >> 8).toInt
          idx = (st & 0xff).toInt
          out(i) = pred
          k += 1; i += 1
        }
        blk += 1
      }
      (sampleRate, out)
    } else {
      if (fmtCode == 1 && dataLen % 2 != 0) return null
      val n = if (fmtCode == 1) dataLen / 2 else dataLen
      val out = new Array[Int](n)
      var i = 0
      while (i < n) {
        out(i) =
          if (fmtCode == 1) (le16(b, dataOff + 2 * i) << 16) >> 16 // sign-extend
          else if (fmtCode == 7) mulawExpand(b(dataOff + i) & 0xFF)
          else alawExpand(b(dataOff + i) & 0xFF)
        i += 1
      }
      (sampleRate, out)
    }
  }

  /** Nearest-neighbor downscale of a 24-bit BMP, re-encoded as a REAL BMP:
    * dst pixel (x, y) samples src pixel (x·srcW div dstW, y·srcH div dstH)
    * — integer floor division, the closed form the q99 oracle recomputes.
    * Decodes through the same validation as [[bmpStats]] (returns null on
    * malformed input or non-positive/upscaling targets) and writes through
    * the same row-padded bottom-up layout as [[bmpEncode]], so the output
    * is itself decodable by any BMP reader. */
  def bmpResize(b: Array[Byte], dstW: Int, dstH: Int): Array[Byte] = {
    if (b == null || b.length < 54 || b(0) != 'B' || b(1) != 'M') return null
    val dataOffset = le32(b, 10)
    val headerSize = le32(b, 14)
    val srcW = le32(b, 18)
    val heightRaw = le32(b, 22)
    val planes = le16(b, 26)
    val bpp = le16(b, 28)
    val compression = le32(b, 30)
    if (headerSize < 40 || planes != 1 || bpp != 24 || compression != 0) return null
    val srcH = math.abs(heightRaw)
    val topDown = heightRaw < 0
    // srcH <= 0 (not == 0): abs(Int.MinValue) stays negative — reject it.
    if (srcW <= 0 || srcH <= 0 || srcW > MaxDim || srcH > MaxDim) return null
    val srcRowSize = ((srcW * 3 + 3) / 4) * 4
    if (dataOffset < 54 || dataOffset.toLong + srcRowSize.toLong * srcH > b.length) return null
    if (dstW <= 0 || dstH <= 0 || dstW > srcW || dstH > srcH) return null

    val dstRowSize = ((dstW * 3 + 3) / 4) * 4
    val out = new Array[Byte](54 + dstRowSize * dstH)
    out(0) = 'B'; out(1) = 'M'
    putLe32(out, 2, out.length)
    putLe32(out, 10, 54)
    putLe32(out, 14, 40)
    putLe32(out, 18, dstW)
    putLe32(out, 22, dstH) // bottom-up output regardless of input orientation
    putLe16(out, 26, 1)
    putLe16(out, 28, 24)
    putLe32(out, 30, 0)
    putLe32(out, 34, dstRowSize * dstH)
    putLe32(out, 38, 2835); putLe32(out, 42, 2835)
    var row = 0
    while (row < dstH) {
      val y = dstH - 1 - row // image y of this stored row
      val srcY = y * srcH / dstH
      // image row srcY lives at stored row (srcH-1-srcY) bottom-up, srcY top-down
      val srcRow = if (topDown) srcY else srcH - 1 - srcY
      val srcOff = dataOffset + srcRow * srcRowSize
      val dstOff = 54 + row * dstRowSize
      var x = 0
      while (x < dstW) {
        val srcX = x * srcW / dstW
        out(dstOff + 3 * x) = b(srcOff + 3 * srcX)
        out(dstOff + 3 * x + 1) = b(srcOff + 3 * srcX + 1)
        out(dstOff + 3 * x + 2) = b(srcOff + 3 * srcX + 2)
        x += 1
      }
      row += 1
    }
    out
  }

  /** Decimate a PCM mono 16-bit WAV by keeping every `factor`-th sample,
    * re-encoded as a REAL WAV at sampleRate/factor — the audio analog of
    * [[bmpResize]] (kept sample i of the output is input sample i·factor,
    * the closed form the q100 oracle recomputes). Walks chunks through the
    * same validation as [[wavStats]]; null on malformed input, factor < 1,
    * or a zero-sample result. */
  def wavDownsample(b: Array[Byte], factor: Int): Array[Byte] = {
    if (factor < 1) return null
    if (b == null || b.length < 44) return null
    if (b(0) != 'R' || b(1) != 'I' || b(2) != 'F' || b(3) != 'F' ||
      b(8) != 'W' || b(9) != 'A' || b(10) != 'V' || b(11) != 'E') return null
    var pos = 12
    var sampleRate = -1
    var dataOff = -1
    var dataLen = -1
    while (pos + 8 <= b.length && (sampleRate < 0 || dataOff < 0)) {
      val size = le32(b, pos + 4)
      if (size < 0 || pos + 8 + size > b.length) return null
      val isFmt = b(pos) == 'f' && b(pos + 1) == 'm' && b(pos + 2) == 't' && b(pos + 3) == ' '
      val isData = b(pos) == 'd' && b(pos + 1) == 'a' && b(pos + 2) == 't' && b(pos + 3) == 'a'
      if (isFmt) {
        if (size < 16) return null
        if (le16(b, pos + 8) != 1 || le16(b, pos + 10) != 1 || le16(b, pos + 22) != 16) return null
        sampleRate = le32(b, pos + 12)
      } else if (isData) {
        dataOff = pos + 8; dataLen = size
      }
      pos += 8 + size + (size & 1)
    }
    if (sampleRate <= 0 || dataOff < 0 || dataLen % 2 != 0) return null
    val n = dataLen / 2
    val outN = (n + factor - 1) / factor // samples 0, factor, 2·factor, …
    if (outN <= 0) return null
    val newRate = math.max(1, sampleRate / factor)
    val dataSize = outN * 2
    val out = new Array[Byte](44 + dataSize)
    out(0) = 'R'; out(1) = 'I'; out(2) = 'F'; out(3) = 'F'
    putLe32(out, 4, 36 + dataSize)
    out(8) = 'W'; out(9) = 'A'; out(10) = 'V'; out(11) = 'E'
    out(12) = 'f'; out(13) = 'm'; out(14) = 't'; out(15) = ' '
    putLe32(out, 16, 16)
    putLe16(out, 20, 1)
    putLe16(out, 22, 1)
    putLe32(out, 24, newRate)
    putLe32(out, 28, newRate * 2)
    putLe16(out, 32, 2)
    putLe16(out, 34, 16)
    out(36) = 'd'; out(37) = 'a'; out(38) = 't'; out(39) = 'a'
    putLe32(out, 40, dataSize)
    var i = 0
    while (i < outN) {
      val srcOff = dataOff + 2 * (i * factor)
      out(44 + 2 * i) = b(srcOff)
      out(44 + 2 * i + 1) = b(srcOff + 1)
      i += 1
    }
    out
  }

  val bmpStatsType: StructType = StructType(Seq(
    StructField("width", IntegerType), StructField("height", IntegerType),
    StructField("sum_r", LongType), StructField("sum_g", LongType),
    StructField("sum_b", LongType)))

  val wavStatsType: StructType = StructType(Seq(
    StructField("sample_rate", IntegerType), StructField("n_samples", LongType),
    StructField("sum_abs", LongType), StructField("peak", IntegerType)))
}
