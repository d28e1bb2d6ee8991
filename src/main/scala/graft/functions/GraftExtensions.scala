package graft.functions

import org.apache.spark.sql.{AnalysisException, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression,
  ExpressionInfo, If, InheritAnalysisRules, IsNull, Literal, RuntimeReplaceable, XxHash64}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.expressions.objects.StaticInvoke
import org.apache.spark.sql.types._

/** Session extension registering graft's native functions — install with
  * `.config("spark.sql.extensions", "graft.functions.GraftExtensions")`
  * (or `withExtensions`); afterwards the functions resolve by name through
  * `call_function` / SQL. The public, supported way to ship custom
  * Catalyst functions — no private Spark API touched.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit =
    GraftExtensions.functions.foreach(f => ext.injectFunction(f.registration))
}

/** A scalar graft function call as the analyzer sees it: `name(parameters)`
  * for output column names and `sql`, analysed and executed as its
  * `replacement` (the kernel's `StaticInvoke`), which the optimizer
  * substitutes in. */
case class GraftCall(name: String, parameters: Seq[Expression], replacement: Expression)
  extends RuntimeReplaceable with InheritAnalysisRules {
  override def prettyName: String = name
  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(replacement = newChild)
}

/** The function table: one row per `graft_*` name. A scalar row names its
  * kernel — a static method on an object in this package — with its
  * result and argument types, and becomes Spark's own `StaticInvoke`:
  * the kernel runs as one static call per row inside whole-stage codegen
  * (the ICDE 2025 operator-fusion pattern) from ONE definition, which the
  * interpreted path calls too. NULL in → NULL out; a null result is SQL
  * NULL. Non-array arguments are implicitly cast to the declared type;
  * an ARRAY argument must carry the declared element type, because the
  * implicit cast would silently narrow `ARRAY<DOUBLE>` to `ARRAY<FLOAT>`.
  * The aggregate and bloom rows keep their own builders; every row's
  * argument count is checked before it builds.
  */
object GraftExtensions {

  final case class Fn(name: String, usage: String, className: String, arity: Range,
                      build: Seq[Expression] => Expression) {
    def registration: (FunctionIdentifier, ExpressionInfo, Seq[Expression] => Expression) = (
      FunctionIdentifier(name),
      new ExpressionInfo(className, null, name, s"$name$usage", ""),
      args => {
        if (!arity.contains(args.size)) throw new AnalysisException(
          "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", Map(
            "functionName" -> s"`$name`",
            "expectedNum" ->
              (if (arity.size == 1) s"${arity.start}" else arity.mkString("[", ", ", "]")),
            "actualNum" -> args.size.toString,
            "docroot" -> org.apache.spark.SPARK_DOC_ROOT))
        build(args)
      })
  }

  private def scalar(name: String, usage: String, kernel: AnyRef, method: String,
                     result: DataType, argTypes: DataType*): Fn = {
    val cls = kernel.getClass
    // A primitive result is never null; a boxed or object one (a codec's
    // null on malformed input) is checked per row.
    val primitive = cls.getMethods.exists(m => m.getName == method && m.getReturnType.isPrimitive)
    Fn(name, usage, cls.getName.stripSuffix("$"), argTypes.size to argTypes.size, args => {
      args.zip(argTypes).zipWithIndex.foreach {
        case ((a, want: ArrayType), i) if (a.dataType match {
              case ArrayType(et, _) => et != want.elementType
              case t => t != NullType
            }) =>
          throw new AnalysisException("DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE", Map(
            "sqlExpr" -> s""""$name(${args.map(_.sql).mkString(", ")})"""",
            "paramIndex" -> Seq("first", "second", "third", "fourth")(i),
            "requiredType" -> s""""${want.sql}"""",
            "inputSql" -> s""""${a.sql}"""",
            "inputType" -> s""""${a.dataType.sql}""""))
        case _ =>
      }
      GraftCall(name, args, StaticInvoke(cls, result, method, args, argTypes,
        returnNullable = !primitive))
    })
  }

  private val FloatArr = ArrayType(FloatType)
  private val LongArr = ArrayType(LongType)
  private val seedWH = Seq(LongType, IntegerType, IntegerType)
  private val seedWHN = seedWH :+ IntegerType
  private val payloadWH = Seq(BinaryType, IntegerType, IntegerType)

  val functions: Seq[Fn] = Seq(
    scalar("graft_float_dot", "(a, b) - left-fold double dot product of two float arrays",
      FloatDot, "dot", DoubleType, FloatArr, FloatArr),
    scalar("graft_sqdist_q", "(a, b) - exact squared L2 distance of two BIGINT arrays",
      LongSqDist, "sqDist", LongType, LongArr, LongArr),
    scalar("graft_rolling_hash", "(s) - Rabin-Karp (acc*31+codepoint) mod 1e9+7 over s",
      RollingHash, "hash", LongType, StringType),
    scalar("graft_token_estimate",
      "(s) - BPE-ish token estimate: ceil(run/4) over letter/digit/punct runs",
      TokenEstimate, "estimate", LongType, StringType),
    scalar("graft_deflate_len", "(text, level) - DEFLATE-compressed byte length of the " +
      "UTF-8 text (repetitiveness/quality signal); NULL on a level outside 1-9",
      TextCompress, "deflateLen", IntegerType, StringType, IntegerType),
    scalar("graft_proj_entries", "(qv, tables, bits, flips) - signed-projection LSH bucket " +
      "entries array<struct<t,sig>> for a quantized BIGINT vector (exact integer arithmetic)",
      ProjEntries, "compute", ProjEntries.outType, LongArr, IntegerType, IntegerType, IntegerType),
    scalar("graft_bmp_encode",
      "(seed, width, height) - deterministic 24-bit uncompressed BMP payload",
      MediaCodec, "bmpEncode", BinaryType, seedWH: _*),
    scalar("graft_bmp_stats", "(payload) - parse a 24-bit BMP: struct(width, height, " +
      "sum_r, sum_g, sum_b), NULL if malformed",
      MediaCodec, "bmpStats", MediaCodec.bmpStatsType, BinaryType),
    scalar("graft_bmp_pixels", "(payload) - decoded RGB pixel array of a 24-bit BMP: " +
      "struct(width, height, pix), NULL if malformed",
      MediaCodec, "bmpPixels", MediaCodec.bmpPixelsType, BinaryType),
    scalar("graft_bmp_resize",
      "(payload, w, h) - nearest-neighbor downscale re-encoded as a real BMP",
      MediaCodec, "bmpResize", BinaryType, payloadWH: _*),
    scalar("graft_wav_encode",
      "(seed, n_samples, sample_rate) - deterministic PCM mono 16-bit WAV payload",
      MediaCodec, "wavEncode", BinaryType, seedWH: _*),
    scalar("graft_wav_encode_ulaw", "(seed, n_samples, sample_rate) - deterministic " +
      "G.711 u-law compressed mono WAV payload",
      MediaCodec, "wavEncodeUlaw", BinaryType, seedWH: _*),
    scalar("graft_wav_encode_alaw", "(seed, n_samples, sample_rate) - deterministic " +
      "G.711 A-law compressed mono WAV payload",
      MediaCodec, "wavEncodeAlaw", BinaryType, seedWH: _*),
    scalar("graft_wav_encode_ima", "(seed, n_samples, sample_rate) - deterministic " +
      "IMA/DVI ADPCM compressed mono WAV payload",
      MediaCodec, "wavEncodeIma", BinaryType, seedWH: _*),
    scalar("graft_wav_stats", "(payload) - parse a RIFF/WAVE (PCM 16-bit, G.711 8-bit or " +
      "IMA ADPCM, decoded): struct(sample_rate, n_samples, sum_abs, peak), NULL if malformed",
      MediaCodec, "wavStats", MediaCodec.wavStatsType, BinaryType),
    scalar("graft_wav_samples",
      "(payload) - decoded PCM sample array of a supported WAVE, NULL if malformed",
      MediaCodec, "wavSamples", ArrayType(IntegerType, containsNull = false), BinaryType),
    scalar("graft_wav_downsample",
      "(payload, factor) - keep every factor-th sample, re-encoded as a real WAV",
      MediaCodec, "wavDownsample", BinaryType, BinaryType, IntegerType),
    scalar("graft_avi_encode",
      "(seed, width, height, n_frames) - deterministic uncompressed-DIB AVI payload",
      MediaCodec, "aviEncode", BinaryType, seedWHN: _*),
    scalar("graft_avi_stats", "(payload) - decode an uncompressed-DIB AVI: struct(width, " +
      "height, n_frames, frames), NULL if malformed",
      MediaCodec, "aviStats", MediaCodec.aviStatsType, BinaryType),
    scalar("graft_mjpeg_encode", "(seed, width, height, n_frames) - deterministic " +
      "Motion-JPEG AVI payload (one baseline JFIF per frame)",
      MediaCodec, "mjpegEncode", BinaryType, seedWHN: _*),
    scalar("graft_mjpeg_stats", "(payload) - decode a Motion-JPEG AVI through the real " +
      "JPEG decoder: struct(width, height, n_frames, frames), NULL if malformed",
      MediaCodec, "mjpegStats", MediaCodec.aviStatsType, BinaryType),
    scalar("graft_png_encode", "(seed, width, height) - deterministic zlib-compressed " +
      "8-bit truecolor PNG payload",
      PngCodec, "pngEncode", BinaryType, seedWH: _*),
    scalar("graft_png_stats", "(payload) - decode an 8-bit truecolor or grayscale PNG " +
      "(inflate + de-filter): struct(width, height, sum_r, sum_g, sum_b), NULL if malformed",
      PngCodec, "pngStats", MediaCodec.bmpStatsType, BinaryType),
    scalar("graft_png_pixels", "(payload) - decoded RGB pixel array of a supported PNG in " +
      "graft_bmp_pixels' layout: struct(width, height, pix), NULL if malformed",
      PngCodec, "pngPixels", MediaCodec.bmpPixelsType, BinaryType),
    scalar("graft_png_resize", "(payload, w, h) - nearest-neighbor downscale through the " +
      "full PNG decode path, re-encoded as a real PNG",
      PngCodec, "pngResize", BinaryType, payloadWH: _*),
    scalar("graft_jpeg_encode", "(seed, width, height) - deterministic baseline grayscale " +
      "JFIF payload (FDCT + quantize + Huffman)",
      JpegCodec, "jpegEncode", BinaryType, seedWH: _*),
    scalar("graft_jpeg_stats", "(payload) - decode a baseline sequential JPEG (Huffman + " +
      "dequant + IDCT; grayscale or YCbCr up to 2x2 sampling): struct(width, height, " +
      "sum_r, sum_g, sum_b), NULL if malformed or progressive",
      JpegCodec, "jpegStats", MediaCodec.bmpStatsType, BinaryType),
    Fn("graft_kmv_distinct", "(col[, k]) - KMV cardinality sketch: k smallest xxhash64 " +
      "values; exact below k distinct, (k-1)*2^64/kth_min above",
      classOf[KmvDistinct].getName, 1 to 2, args => {
        val k = args.lift(1) match {
          case Some(Literal(v, _)) => v.toString.toInt
          case Some(other) => throw new IllegalArgumentException(
            s"graft_kmv_distinct: k must be an integer literal, got $other")
          case None => 256
        }
        // xxhash64(NULL) passes the seed through (counting null as a value);
        // null-guard so NULL inputs are skipped like every SQL aggregate.
        val hashed = If(IsNull(args.head), Literal(null, LongType), new XxHash64(Seq(args.head)))
        KmvDistinct(hashed, k).toAggregateExpression()
      }),
    // Spark ships BloomFilterAggregate/BloomFilterMightContain for its own
    // runtime row-group filtering but does not register them in the public
    // function registry — these graft aliases expose them (the semi-join
    // prefilter every 100 TB pipeline wants: build a bloom over the small
    // side's keys, drop non-matching corpus rows BEFORE the shuffle).
    Fn("graft_bloom_agg", "(xxhash64(col), nItems, nBits) - bloom filter over the hashed " +
      "values", classOf[BloomFilterAggregate].getName, 3 to 3,
      args => new BloomFilterAggregate(args(0), args(1), args(2)).toAggregateExpression()),
    Fn("graft_might_contain", "(bloom, xxhash64(col)) - membership probe; false is definite",
      classOf[BloomFilterMightContain].getName, 2 to 2,
      args => BloomFilterMightContain(args(0), args(1))))
}
