package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Similarity

class FloatDotSpec extends SparkSpec {

  private val vecs = df("a ARRAY<FLOAT>, b ARRAY<FLOAT>", Seq(
    Row(Seq(1.0f, 2.0f, 3.0f), Seq(4.0f, 5.0f, 6.0f)),
    Row(Seq(0.1f, 0.2f), Seq(0.3f, 0.4f)),
    Row(null, Seq(1.0f)),
    Row(Seq(1.0f), null)))

  test("native dot matches the HOF fold bit-for-bit, nulls propagate") {
    val out = vecs.select(
      Similarity.dot(col("a"), col("b")).as("native"),
      Similarity.dotHof(col("a"), col("b")).as("hof")).collect()
    out(0).getDouble(0) shouldBe 32.0
    out(0).getDouble(0) shouldBe out(0).getDouble(1)
    out(1).getDouble(0) shouldBe out(1).getDouble(1) // float→double fold, exact
    out(2).isNullAt(0) shouldBe true
    out(3).isNullAt(0) shouldBe true
  }

  test("resolves through SQL via the session extension") {
    vecs.createOrReplaceTempView("fd_vecs")
    val sql = spark.sql(
      "SELECT graft_float_dot(a, b) FROM fd_vecs WHERE a IS NOT NULL AND b IS NOT NULL")
    sql.collect().map(_.getDouble(0)).head shouldBe 32.0
  }
}
