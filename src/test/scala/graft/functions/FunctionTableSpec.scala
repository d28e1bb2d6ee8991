package graft.functions

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{AnalysisException, Row}
import org.apache.spark.sql.types.StructType

import graft.SparkSpec

/** Table-driven checks over [[GraftExtensions.functions]]: every row
  * resolves through SQL, keeps Spark's column naming, evaluates the same
  * in generated and interpreted code, and rejects bad calls by name. */
class FunctionTableSpec extends SparkSpec {

  /** Sample arguments (SQL) for every scalar row; payload arguments come
    * from the matching encoder. */
  private val samples: Map[String, Seq[String]] = Map(
    "graft_float_dot" -> Seq("array(1.0F, 2.0F, 3.0F)", "array(4.0F, 5.0F, 6.5F)"),
    "graft_sqdist_q" -> Seq("array(1L, -2L, 3L)", "array(4L, 5L, -6L)"),
    "graft_rolling_hash" -> Seq("'héllo wörld'"),
    "graft_token_estimate" -> Seq("'abcde 12345 a!b'"),
    "graft_deflate_len" -> Seq("repeat('ab', 64)", "6"),
    "graft_proj_entries" -> Seq("array(3L, -1L, 4L, -1L, 5L)", "2", "8", "2"),
    "graft_bmp_encode" -> Seq("7L", "5", "3"),
    "graft_bmp_stats" -> Seq("graft_bmp_encode(7L, 5, 3)"),
    "graft_bmp_pixels" -> Seq("graft_bmp_encode(7L, 5, 3)"),
    "graft_bmp_resize" -> Seq("graft_bmp_encode(7L, 5, 3)", "2", "2"),
    "graft_wav_encode" -> Seq("11L", "9", "8000"),
    "graft_wav_encode_ulaw" -> Seq("11L", "9", "8000"),
    "graft_wav_encode_alaw" -> Seq("11L", "9", "8000"),
    "graft_wav_encode_ima" -> Seq("11L", "100", "8000"),
    "graft_wav_stats" -> Seq("graft_wav_encode_ima(11L, 100, 8000)"),
    "graft_wav_samples" -> Seq("graft_wav_encode_ulaw(11L, 9, 8000)"),
    "graft_wav_downsample" -> Seq("graft_wav_encode(11L, 9, 8000)", "2"),
    "graft_avi_encode" -> Seq("5L", "4", "3", "2"),
    "graft_avi_stats" -> Seq("graft_avi_encode(5L, 4, 3, 2)"),
    "graft_mjpeg_encode" -> Seq("5L", "16", "8", "2"),
    "graft_mjpeg_stats" -> Seq("graft_mjpeg_encode(5L, 16, 8, 2)"),
    "graft_png_encode" -> Seq("7L", "5", "3"),
    "graft_png_stats" -> Seq("graft_png_encode(7L, 5, 3)"),
    "graft_png_pixels" -> Seq("graft_png_encode(7L, 5, 3)"),
    "graft_png_resize" -> Seq("graft_png_encode(7L, 5, 3)", "2", "2"),
    "graft_jpeg_encode" -> Seq("77L", "16", "12"),
    "graft_jpeg_stats" -> Seq("graft_jpeg_encode(77L, 16, 12)"))

  private val aggregates = Set("graft_kmv_distinct", "graft_bloom_agg", "graft_might_contain")

  private def withConf[T](kv: (String, String)*)(body: => T): T = {
    val old = kv.map { case (k, _) => k -> spark.conf.getOption(k) }
    kv.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally old.foreach { case (k, v) => v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }

  private def analysisError(sql: String): AnalysisException =
    intercept[AnalysisException](spark.sql(sql).collect())

  test("each graft_* name has one row; each scalar row has samples") {
    val names = GraftExtensions.functions.map(_.name)
    names.distinct shouldBe names
    names.toSet shouldBe samples.keySet ++ aggregates
    val registered = spark.sessionState.functionRegistry.listFunction().map(_.funcName).toSet
    names.filterNot(registered) shouldBe empty
  }

  test("scalar rows: column names kept, codegen equals interpreted") {
    for ((name, args) <- samples.toSeq.sortBy(_._1)) withClue(name) {
      // Arguments reach the call as table columns, so constant folding
      // cannot evaluate the call before either code path does.
      val in = spark.sql(args.zipWithIndex.map { case (a, i) => s"$a AS c$i" }
        .mkString("SELECT ", ", ", ""))
      val sample = in.head()
      spark.createDataFrame(
        spark.sparkContext.parallelize(Seq(sample, Row.fromSeq(null +: sample.toSeq.tail)), 1),
        StructType(in.schema.map(_.copy(nullable = true)))).createOrReplaceTempView("ft_in")
      val call = s"$name(${args.indices.map(i => s"c$i").mkString(", ")})"
      def run(mode: String, wholeStage: Boolean): (Seq[String], Seq[Row]) =
        withConf("spark.sql.codegen.factoryMode" -> mode,
          "spark.sql.codegen.wholeStage" -> wholeStage.toString) {
          val out = spark.sql(s"SELECT $call FROM ft_in")
          (out.columns.toSeq, out.collect().toSeq)
        }
      val (cols, generated) = run("CODEGEN_ONLY", wholeStage = true)
      val (_, interpreted) = run("NO_CODEGEN", wholeStage = false)
      cols shouldBe Seq(call)
      generated shouldBe interpreted
      generated.map(_.isNullAt(0)) shouldBe Seq(false, true)
    }
  }

  test("one argument too many fails naming the function, every row") {
    for (f <- GraftExtensions.functions) withClue(f.name) {
      val e = analysisError(
        s"SELECT ${f.name}(${Seq.fill(f.arity.end + 1)("1").mkString(", ")})")
      e.getCondition shouldBe "WRONG_NUM_ARGS.WITHOUT_SUGGESTION"
      e.getMessage should include(s"`${f.name}`")
    }
  }

  test("graft_bmp_stats(a, b) and graft_float_dot(a) fail on arity") {
    val extra = analysisError("SELECT graft_bmp_stats(graft_bmp_encode(1L, 2, 2), X'00')")
    extra.getMessage should include("`graft_bmp_stats` requires 1 parameters")
    extra.getMessage should include("actual number is 2")
    val missing = analysisError("SELECT graft_float_dot(array(1.0F))")
    missing.getMessage should include("`graft_float_dot` requires 2 parameters")
    missing.getMessage should include("actual number is 1")
  }

  test("ARRAY arguments must carry the declared element type") {
    for ((sql, want) <- Seq(
      "SELECT graft_float_dot(array(1d), array(2d))" -> "ARRAY<FLOAT>",
      "SELECT graft_sqdist_q(array(1, 2), array(3, 4))" -> "ARRAY<BIGINT>",
      "SELECT graft_proj_entries(array(1, 2), 1, 4, 0)" -> "ARRAY<BIGINT>")) withClue(sql) {
      val e = analysisError(sql)
      e.getCondition shouldBe "DATATYPE_MISMATCH.UNEXPECTED_INPUT_TYPE"
      e.getMessage should include(sql.stripPrefix("SELECT ").takeWhile(_ != '('))
      e.getMessage should include(want)
    }
  }

  test("src/main has no doGenCode; only GraftExtensions injects") {
    val files = Files.walk(Paths.get("src/main")).iterator().asScala
      .filter(p => Files.isRegularFile(p)).toSeq
    def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    files.filter(p => Seq("doGenCode", "nullSafeCodeGen").exists(text(p).contains))
      .map(_.toString) shouldBe empty
    files.filter(p => text(p).contains("injectFunction"))
      .map(_.getFileName.toString) shouldBe Seq("GraftExtensions.scala")
  }
}
