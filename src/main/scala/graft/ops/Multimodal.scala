package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Multimodal-column plumbing for the LLM-data-pipeline extension: treat
  * image/audio/video as opaque BINARY payloads with typed metadata, and
  * run decode / feature-extraction / frame-sampling as distributed
  * column transforms.
  *
  * DECODE IS REAL for the mainstream formats byte-parseable on a bare
  * JVM: [[imageAssets]]/[[decodeBmp]] and [[audioAssets]]/[[decodeWav]]
  * run the pure-JVM BMP and RIFF/WAVE codecs in
  * [[graft.functions.MediaCodec]] (header parse, row padding, chunk walk,
  * sample sign-extension), and [[pngAssets]]/[[decodePng]] run the
  * COMPRESSED-format PNG codec in [[graft.functions.PngCodec]] (zlib
  * inflate + all five scanline-filter reconstructions) — each a
  * `graft_*` row of [[graft.functions.GraftExtensions]]' function table,
  * one static codec call per row inside whole-stage codegen,
  * oracle-checked end-to-end by q97/q98/q112.
  *
  * [[jpegAssets]]/[[decodeJpeg]] run the TRANSFORM-coded baseline-JPEG
  * codec in [[graft.functions.JpegCodec]] (Huffman entropy decode,
  * dequantize, IDCT, chroma upsample, YCbCr→RGB — grayscale and 4:2:0/
  * 4:2:2/4:4:4 color), cross-verified both directions against the JDK's
  * independent ImageIO coder and oracle-checked by q115.
  *
  * [[ulawAudioAssets]] carry REAL compressed audio: G.711 μ-law WAVE
  * (format code 7), compressed by the standard CCITT recurrence and
  * expanded back through [[graft.functions.MediaCodec.mulawExpand]] —
  * cross-checked against the JDK's independent javax.sound ULAW decoder
  * and oracle-checked by q118.
  *
  * [[videoAssets]]/[[decodeAvi]] carry REAL video containers:
  * uncompressed-DIB AVI (RIFF, vids stream, idx1 index) decoded
  * frame-by-frame in one parse, oracle-checked by q127 — the video
  * modality's container and frame-sampling plumbing is real. And
  * [[mjpegVideoAssets]]/[[decodeMjpeg]] carry REAL COMPRESSED video:
  * Motion-JPEG AVI ('MJPG' stream, one baseline JFIF per frame chunk,
  * every frame through the real JpegCodec both ways), oracle-checked by
  * q130 — the realistic VLM-ingest video format short of H.264.
  *
  * STUB BOUNDARY: perceptual codecs (MP3 audio, H.264 video frames)
  * genuinely need external libraries (psychoacoustic filter banks,
  * motion compensation), so [[decodeStub]] and [[featureStub]] remain
  * clearly-marked DETERMINISTIC FAKES for those codings. Everything
  * around them — the asset schema, binary payload handling, batch shape,
  * frame sampling, partition parallelism — is real and tested; a real
  * codec drops in exactly the way JpegCodec did for JPEG.
  */
object Multimodal {

  /** Image-asset table with REAL payloads: one spec-conformant 24-bit BMP
    * per document, dimensions and pixel content derived deterministically
    * from the id (the generator stands in for an object-store read; the
    * payload bytes are a genuine image file any viewer opens). */
  def imageAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("image").as("media_type"),
      call_function("graft_bmp_encode",
        col(idCol).cast("long"),
        (lit(4) + pmod(col(idCol), lit(5))).cast("int"),
        (lit(4) + pmod(col(idCol), lit(3))).cast("int")).as("payload"))

  /** Audio-asset table with REAL payloads: one PCM mono 16-bit WAV per
    * document. */
  def audioAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("audio").as("media_type"),
      call_function("graft_wav_encode",
        col(idCol).cast("long"),
        (lit(64) + pmod(col(idCol), lit(100))).cast("int"),
        (lit(8000) + pmod(col(idCol), lit(4)) * lit(4000)).cast("int")).as("payload"))

  /** COMPRESSED-audio-asset table with REAL payloads: one G.711 μ-law
    * mono WAV per document (format code 7, `fact` chunk, one compressed
    * byte per sample) — the telephony codec that is the simplest real
    * compressed audio format, and the format a speech-data pipeline
    * actually ingests. Same deterministic PCM source as [[audioAssets]],
    * so lossy decode is oracle-checked EXACTLY: the compress→expand
    * round trip is pure integer arithmetic both engines replay. */
  def ulawAudioAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("audio/ulaw").as("media_type"),
      call_function("graft_wav_encode_ulaw",
        col(idCol).cast("long"),
        (lit(64) + pmod(col(idCol), lit(100))).cast("int"),
        (lit(8000) + pmod(col(idCol), lit(4)) * lit(4000)).cast("int")).as("payload"))

  /** [[ulawAudioAssets]]'s European sibling: G.711 A-law (WAV format
    * code 6) — same container, same deterministic PCM source, the
    * alternate-bit-inversion companding law. */
  def alawAudioAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("audio/alaw").as("media_type"),
      call_function("graft_wav_encode_alaw",
        col(idCol).cast("long"),
        (lit(64) + pmod(col(idCol), lit(100))).cast("int"),
        (lit(8000) + pmod(col(idCol), lit(4)) * lit(4000)).cast("int")).as("payload"))

  /** Block-compressed-audio-asset table with REAL payloads: one IMA/DVI
    * ADPCM WAVE per document (format code 0x11, 36-byte blocks — the
    * header stores the block's first sample raw plus the carried step
    * index, then 4-bit codes) — the ADAPTIVE-state compressed format
    * between G.711's memoryless companding and the perceptual codecs:
    * decode is a real per-block state machine, still pure integer, so
    * the q121 oracle replays it with a recursive CTE. Same PCM source
    * as [[audioAssets]]; n spans 1–3 blocks incl. a ragged final one. */
  def imaAudioAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("audio/ima-adpcm").as("media_type"),
      call_function("graft_wav_encode_ima",
        col(idCol).cast("long"),
        (lit(64) + pmod(col(idCol), lit(100))).cast("int"),
        (lit(8000) + pmod(col(idCol), lit(4)) * lit(4000)).cast("int")).as("payload"))

  /** Video-asset table with REAL payloads: one uncompressed-DIB AVI per
    * document (RIFF container, vids/DIB stream header, idx1 index,
    * 2–5 frames of the per-frame-shifted pixel gradient) — the video
    * modality's container/frame plumbing made real; only the compressed
    * video codec (H.264) stays a declared stub. */
  def videoAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("video/avi").as("media_type"),
      call_function("graft_avi_encode",
        col(idCol).cast("long"),
        (lit(4) + pmod(col(idCol), lit(5))).cast("int"),
        (lit(4) + pmod(col(idCol), lit(3))).cast("int"),
        (lit(2) + pmod(col(idCol), lit(4))).cast("int")).as("payload"))

  /** COMPRESSED-video-asset table with REAL payloads: one Motion-JPEG
    * AVI per document — the 'MJPG' vids stream carries a complete
    * baseline JFIF file per '00dc' chunk, each run through the real
    * [[graft.functions.JpegCodec]] encoder (FDCT + quantize + Huffman).
    * This is the realistic VLM-ingest video format short of H.264
    * (which stays a declared stub): container walk AND per-frame codec
    * are both real. Dims match [[jpegAssets]] so the smooth-ramp
    * closed-form sum bound holds per frame. */
  def mjpegVideoAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("video/x-motion-jpeg").as("media_type"),
      call_function("graft_mjpeg_encode",
        col(idCol).cast("long"),
        (lit(4) + pmod(col(idCol), lit(9))).cast("int"),
        (lit(4) + pmod(col(idCol), lit(6))).cast("int"),
        (lit(2) + pmod(col(idCol), lit(4))).cast("int")).as("payload"))

  /** Compressed-image-asset table with REAL payloads: one zlib-deflated
    * 8-bit truecolor PNG per document ([[graft.functions.PngCodec]] —
    * scanline filters cycle through all five PNG types). Height ≥ 5 for
    * most ids, so every filter reconstruction path runs. */
  def pngAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("image/png").as("media_type"),
      call_function("graft_png_encode",
        col(idCol).cast("long"),
        (lit(4) + pmod(col(idCol), lit(7))).cast("int"),
        (lit(4) + pmod(col(idCol), lit(5))).cast("int")).as("payload"))

  /** Transform-coded-image-asset table with REAL payloads: one baseline
    * grayscale JFIF per document ([[graft.functions.JpegCodec]] — FDCT,
    * Annex-K quantization + Huffman tables, byte-stuffed scan). The
    * source pattern is a wrap-free affine ramp whose pixel sum is
    * closed-form, which is what lets the LOSSY decode be oracle-checked
    * as a bounded-error boolean (q115). */
  def jpegAssets(docs: DataFrame, idCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      lit("image/jpeg").as("media_type"),
      call_function("graft_jpeg_encode",
        col(idCol).cast("long"),
        (lit(4) + pmod(col(idCol), lit(9))).cast("int"),
        (lit(4) + pmod(col(idCol), lit(6))).cast("int")).as("payload"))

  /** REAL video-container decode: parse the AVI header chain and every
    * DIB frame in one pass — (width, height, n_frames, per-frame channel
    * sums); NULL for payloads that aren't well-formed uncompressed-DIB
    * AVI. */
  def decodeAvi(payload: Column): Column = call_function("graft_avi_stats", payload)

  /** REAL compressed-video decode: walk the MJPEG AVI container and run
    * every frame through the real baseline JPEG decoder; NULL for
    * payloads that aren't well-formed 'MJPG'-stream AVI. */
  def decodeMjpeg(payload: Column): Column =
    call_function("graft_mjpeg_stats", payload)

  /** REAL image decode: parse the BMP header + pixel rows; NULL for
    * payloads that aren't well-formed 24-bit uncompressed BMP. */
  def decodeBmp(payload: Column): Column = call_function("graft_bmp_stats", payload)

  /** REAL transform-coded image decode: baseline JPEG entropy decode +
    * dequantize + IDCT (+ chroma upsample and YCbCr→RGB for color); NULL
    * for payloads that aren't well-formed baseline sequential JPEG. */
  def decodeJpeg(payload: Column): Column = call_function("graft_jpeg_stats", payload)

  /** REAL compressed-image decode: chunk walk + CRC verify + zlib inflate
    * + filter reconstruction; NULL for payloads that aren't well-formed
    * 8-bit truecolor or grayscale non-interlaced PNG. */
  def decodePng(payload: Column): Column = call_function("graft_png_stats", payload)

  /** REAL compressed-image resize: nearest-neighbor downscale through the
    * full PNG decode path, re-encoded (filter + deflate + CRC) as a real
    * PNG payload. */
  def resizePng(payload: Column, w: Column, h: Column): Column =
    call_function("graft_png_resize", payload, w, h)

  /** REAL audio decode: walk the RIFF chunks, validate PCM, fold samples;
    * NULL for payloads that aren't well-formed PCM/mono/16-bit WAVE. */
  def decodeWav(payload: Column): Column = call_function("graft_wav_stats", payload)

  /** REAL audio decode to the PCM SAMPLE ARRAY — the feature-extraction
    * entry point (framing, energy, ZCR run as ordinary array Columns on
    * top); accepts every supported WAVE coding (PCM, G.711, IMA ADPCM). */
  def decodeWavSamples(payload: Column): Column =
    call_function("graft_wav_samples", payload)

  /** REAL image resize (the non-stub counterpart of [[resizeStub]] for
    * BMP): nearest-neighbor downscale, re-encoded as a real BMP payload. */
  def resizeBmp(payload: Column, w: Column, h: Column): Column =
    call_function("graft_bmp_resize", payload, w, h)

  /** REAL audio downsample: keep every `factor`-th sample, re-encoded as a
    * real WAV at rate/factor. */
  def downsampleWav(payload: Column, factor: Column): Column =
    call_function("graft_wav_downsample", payload, factor)

  /** Synthesize an asset table from documents: opaque binary payload +
    * typed metadata — the shape a real ingest (S3 object listing + bytes)
    * would land. */
  def syntheticAssets(docs: DataFrame, idCol: String, textCol: String): DataFrame =
    docs.select(
      col(idCol).as("asset_id"),
      when(col(idCol) % 3 === 0, lit("image"))
        .when(col(idCol) % 3 === 1, lit("audio"))
        .otherwise(lit("video")).as("media_type"),
      to_binary(col(textCol), lit("utf-8")).as("payload"),
      struct(
        length(to_binary(col(textCol), lit("utf-8"))).as("n_bytes"),
        (col(idCol) % 1000 * 40 + 1000).as("duration_ms")).as("meta"))

  /** FAKE decode: format sniff + checksum from the payload bytes.
    * Deterministic stand-in for image decode / audio demux. */
  def decodeStub(payload: Column, mediaType: Column): Column =
    struct(
      mediaType.as("format"),
      length(payload).as("n_bytes"),
      md5(payload).as("checksum"))

  /** FAKE feature extraction: `dims` pseudo-features in [0,1) derived from
    * xxhash64(payload, dim index) — deterministic stand-in for an embedding
    * model, with the real output shape (Array[Float]). */
  def featureStub(payload: Column, dims: Int): Column =
    transform(sequence(lit(0), lit(dims - 1)),
      i => (pmod(xxhash64(payload, i), lit(1000L)).cast("double") / lit(1000.0))
        .cast("float"))

  /** Resize/downscale stage: REAL binary plumbing (slice of the payload
    * bytes, capped at `maxBytes`) with a FAKE scaler — a real image resize
    * replaces the byte slice with a codec call, keeping the same
    * payload-in/payload-out column shape. The returned struct carries the
    * provenance a curation pipeline filters on (original vs resized
    * size, whether scaling happened). */
  def resizeStub(payload: Column, maxBytes: Int): Column = {
    val n = length(payload)
    struct(
      substring(payload, 1, maxBytes).as("thumb"),
      n.as("orig_bytes"),
      least(n, lit(maxBytes)).as("thumb_bytes"),
      (n > maxBytes).as("was_resized"))
  }

  /** REAL frame-sampling plumbing: offsets 0, everyMs, 2·everyMs … within
    * the asset duration — explode to one row per sampled frame. */
  def frameOffsets(durationMs: Column, everyMs: Int): Column =
    sequence(lit(0L), durationMs.cast("long") - 1, lit(everyMs.toLong))

  /** Full pipeline over an asset table: decode + resize + features +
    * per-frame rows for video assets. */
  def extract(assets: DataFrame, dims: Int = 8, frameEveryMs: Int = 5000,
              thumbMaxBytes: Int = 256): DataFrame =
    assets
      .withColumn("decoded", decodeStub(col("payload"), col("media_type")))
      .withColumn("resized", resizeStub(col("payload"), thumbMaxBytes))
      .withColumn("features", featureStub(col("payload"), dims))
      .withColumn("frame_ms",
        explode_outer(
          when(col("media_type") === "video",
            frameOffsets(col("meta.duration_ms"), frameEveryMs))
            .otherwise(array().cast("array<bigint>"))))
}
