package graft

import java.io.File
import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.types.StructType

/** Artifact-identity plumbing: the corpus tag is the salt every derived
  * artifact keys its scratch path with, and tags COMPOSE (a derived
  * corpus bakes its sources' tags into its dir name, and a multi-input
  * artifact concatenates several tags) — so the tag must stay bounded
  * however long the underlying dir name grows, without ever colliding
  * two distinct corpora. Round 19 found the unbounded form exceeding
  * the filesystem's 255-byte path-segment limit at the 10× scale
  * corpus (q172's two-tag artifact failed mkdir).
  *
  * Also pins [[Tables.artifact]], the one build-once artifact primitive,
  * and keeps hand-rolled artifact writes from being copied back in. */
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
    val tag = Tables.corpusTag(spark, dir, "documents")
    tag should startWith("sf0.0001x_")
  }

  test("long (composed) dir names collapse to a bounded digest, distinct per corpus") {
    // two dir names that share a long prefix the way composed scale-dir
    // tags do, differing only deep inside — the digest must keep them apart
    val stem = "sf0.1_594568_1786839540587__" * 6 // ~168 chars, over the cap
    val a = mkCorpus(stem + "a")
    val b = mkCorpus(stem + "b")
    val ta = Tables.corpusTag(spark, a, "documents")
    val tb = Tables.corpusTag(spark, b, "documents")
    // bounded: digest part + bytes + mtime stays far under the 255-byte
    // segment limit even when an artifact concatenates several tags
    ta.length should be < 60
    ta should startWith("h")
    ta.takeWhile(_ != '_').length shouldBe 17 // "h" + 16 hex chars
    ta.takeWhile(_ != '_') should not be tb.takeWhile(_ != '_')
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

  test("an artifact on disk is served to a new session with no Spark job and the inferred schema") {
    val dir = scratch()
    Tables.artifact(session(dir), "served_v1")(
      spark.range(20).selectExpr("id", "cast(id % 3 as int) as k", "repeat('x', 2) as s"))
      .count() shouldBe 20
    var schema: StructType = null
    jobsDuring {
      schema = Tables.artifact(session(dir), "served_v1")(
        throw new AssertionError("an artifact on disk must not be rebuilt")).schema
    } shouldBe 0
    schema shouldBe spark.read.parquet(s"$dir/served_v1").schema
  }

  test("an artifact directory without _SUCCESS is rebuilt, not trusted") {
    val dir = scratch()
    spark.range(3).write.parquet(s"$dir/half_v1")
    new File(s"$dir/half_v1/_SUCCESS").delete() shouldBe true
    Tables.artifact(session(dir), "half_v1")(spark.range(5).toDF()).count() shouldBe 5
    new File(s"$dir/half_v1/_SUCCESS").exists() shouldBe true
  }

  test("a partitioned artifact keeps its partition column") {
    val dir = scratch()
    val served = Tables.artifact(session(dir), "part_v1", "year")(
      spark.range(6).selectExpr("id", "cast(1995 + id % 2 as int) as year"))
    served.columns.toSeq shouldBe Seq("id", "year")
    served.schema shouldBe spark.read.parquet(s"$dir/part_v1").schema
    new File(s"$dir/part_v1").list().filter(_.startsWith("year=")).sorted shouldBe
      Array("year=1995", "year=1996")
    served.filter("year = 1996").count() shouldBe 3
  }

  test("an artifact lands at scratchDir/<name>") {
    val dir = scratch()
    val served = Tables.artifact(session(dir), "nested/name_v1/tag")(spark.range(4).toDF())
    new File(s"$dir/nested/name_v1/tag/_SUCCESS").exists() shouldBe true
    served.inputFiles should not be empty
    served.inputFiles.foreach(_ should include(s"$dir/nested/name_v1/tag/"))
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
