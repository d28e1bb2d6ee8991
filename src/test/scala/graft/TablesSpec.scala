package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Artifact identity: [[Tables.artifact]] keys every derived table by
  * its name and [[Tables.tag]] — the input dir's basename plus one digest
  * of the build's code fingerprint and the dir's tables — so a changed
  * build or a regenerated input rebuilds, and the same build over the
  * same input serves from disk with no Spark job. The tag stays bounded
  * however long the dir name grows, without colliding two corpora.
  *
  * Also pins [[Tables.artifact]], the one build-once artifact primitive,
  * and keeps hand-rolled artifact writes and hand-kept versions from
  * being copied back in. */
class TablesSpec extends SparkSpec {

  private def mkCorpus(dirName: String): String = {
    val base = Files.createTempDirectory("tagspec").toFile.getAbsolutePath
    val dir = s"$base/$dirName"
    df("doc_id BIGINT", Seq(Row(1L))).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("short dir names keep the literal basename in the tag") {
    val dir = mkCorpus("sf0.0001x")
    Tables.tag(spark, dir) should startWith("sf0.0001x_")
  }

  test("long (composed) dir names collapse to a bounded digest, distinct per corpus") {
    // two dir names that share a long prefix, differing only deep
    // inside — the digest must keep them apart
    val stem = "sf0.1_594568_1786839540587__" * 6 // ~168 chars, over the cap
    val a = mkCorpus(stem + "a")
    val b = mkCorpus(stem + "b")
    val ta = Tables.tag(spark, a)
    val tb = Tables.tag(spark, b)
    // bounded: far under the 255-byte path-segment limit
    ta.length should be < 60
    ta should startWith("h")
    ta.takeWhile(_ != '_').length shouldBe 17 // "h" + 16 hex chars
    ta.takeWhile(_ != '_') should not be tb.takeWhile(_ != '_')
  }

  test("the tag changes with the code fingerprint and with any input table") {
    Tables.codeFingerprint should fullyMatch regex "[0-9a-f]{16}"
    val dir = mkCorpus("sfspec")
    val before = Tables.tag(spark, dir, "fpA")
    Tables.tag(spark, dir, "fpA") shouldBe before
    Tables.tag(spark, dir, "fpB") should not be before
    // rewriting one input table under dir gives a new tag
    df("doc_id BIGINT", Seq(Row(1L), Row(2L), Row(3L))).coalesce(1)
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    Tables.tag(spark, dir, "fpA") should not be before
    // so does adding one
    val rewritten = Tables.tag(spark, dir, "fpA")
    df("k BIGINT", Seq(Row(1L))).write.parquet(s"$dir/orders.parquet")
    Tables.tag(spark, dir, "fpA") should not be rewritten
  }

  /** A fresh session (so the artifact memo misses) over its own scratch
    * dir. */
  private def session(scratch: String): SparkSession = {
    val s = spark.newSession()
    s.conf.set("spark.graft.scratchDir", scratch)
    s
  }

  private def scratch(): String =
    Files.createTempDirectory("artifactspec").toFile.getAbsolutePath

  private lazy val corpus = mkCorpus("sfspec")

  /** Where [[Tables.artifact]] puts `name` under `scratch`. */
  private def at(scratch: String, name: String): String =
    s"$scratch/$name/${Tables.tag(spark, corpus)}"

  test("an artifact on disk is served to a new session with no Spark job and the inferred schema") {
    val dir = scratch()
    Tables.artifact(session(dir), corpus, "served")(
      spark.range(20).selectExpr("id", "cast(id % 3 as int) as k", "repeat('x', 2) as s"))
      .count() shouldBe 20
    var schema: StructType = null
    jobsDuring {
      schema = Tables.artifact(session(dir), corpus, "served")(
        throw new AssertionError("an artifact on disk must not be rebuilt")).schema
    } shouldBe 0
    schema shouldBe spark.read.parquet(at(dir, "served")).schema
  }

  test("a changed code fingerprint rebuilds an artifact at a new path; the same one serves it with no job") {
    val dir = scratch()
    val (tagA, tagB) = (Tables.tag(spark, corpus, "fpA"), Tables.tag(spark, corpus, "fpB"))
    Tables.artifactAt(session(dir), "fp", tagA)(spark.range(3).toDF()).count() shouldBe 3
    var rebuilt = false
    Tables.artifactAt(session(dir), "fp", tagB) { rebuilt = true; spark.range(4).toDF() }
      .count() shouldBe 4
    rebuilt shouldBe true
    new File(s"$dir/fp/$tagB/_SUCCESS").exists() shouldBe true
    var served: org.apache.spark.sql.DataFrame = null
    jobsDuring {
      served = Tables.artifactAt(session(dir), "fp", tagA)(
        throw new AssertionError("the same fingerprint must serve, not rebuild"))
    } shouldBe 0
    served.count() shouldBe 3
  }

  test("an artifact directory without _SUCCESS is rebuilt, not trusted") {
    val dir = scratch()
    val path = at(dir, "half")
    spark.range(3).write.parquet(path)
    new File(s"$path/_SUCCESS").delete() shouldBe true
    Tables.artifact(session(dir), corpus, "half")(spark.range(5).toDF()).count() shouldBe 5
    new File(s"$path/_SUCCESS").exists() shouldBe true
  }

  test("a partitioned artifact keeps its partition column") {
    val dir = scratch()
    val served = Tables.artifact(session(dir), corpus, "part", "year")(
      spark.range(6).selectExpr("id", "cast(1995 + id % 2 as int) as year"))
    served.columns.toSeq shouldBe Seq("id", "year")
    served.schema shouldBe spark.read.parquet(at(dir, "part")).schema
    new File(at(dir, "part")).list().filter(_.startsWith("year=")).sorted shouldBe
      Array("year=1995", "year=1996")
    served.filter("year = 1996").count() shouldBe 3
  }

  test("an artifact lands at scratchDir/<name>/<tag>") {
    val dir = scratch()
    val served = Tables.artifact(session(dir), corpus, "nested/name")(spark.range(4).toDF())
    Tables.tag(spark, corpus) should startWith("sfspec_")
    val path = s"$dir/nested/name/${Tables.tag(spark, corpus)}"
    new File(s"$path/_SUCCESS").exists() shouldBe true
    served.inputFiles should not be empty
    served.inputFiles.foreach(_ should include(s"$path/"))
  }

  test("Queries keys no artifact by hand: no corpusTag, no _vN version") {
    val text = new String(
      Files.readAllBytes(Paths.get("src/main/scala/graft/Queries.scala")), "UTF-8")
    text should not include "corpusTag("
    """_v[0-9]""".r.findAllIn(text).toSeq shouldBe empty
  }

  test("no file under src/main hand-rolls a build-once artifact") {
    val files = Files.walk(Paths.get("src/main/scala/graft")).iterator().asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala")).toSeq
    def text(p: Path): String = new String(Files.readAllBytes(p), "UTF-8")
    files.filter(p => text(p).contains("servedArtifact")).map(_.toString) shouldBe empty
    val writers = files.filter(p => text(p).contains("writePathIfAbsent("))
    // Bucketed.scala gates its catalog tables' location the same way
    writers.map(_.getFileName.toString).sorted shouldBe
      Seq("Bench.scala", "Bucketed.scala", "Tables.scala")
    // in Bench.scala, only the 10× corpus builder writes through it
    val bench = text(writers.find(_.endsWith("Bench.scala")).get)
    val from = bench.indexOf("object ScaleCorpus")
    from should be >= 0
    val scaleCorpus = bench.substring(from, bench.indexOf("\n}\n", from))
    def calls(t: String): Int = t.split("writePathIfAbsent\\(", -1).length - 1
    calls(scaleCorpus) should be > 0
    calls(bench) shouldBe calls(scaleCorpus)
  }
}
