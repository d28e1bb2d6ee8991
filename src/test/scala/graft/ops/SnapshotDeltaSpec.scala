package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec

class SnapshotDeltaSpec extends SparkSpec {

  private def snap(rows: (Long, String)*) = {
    val schema = StructType(Seq(
      StructField("doc_id", LongType), StructField("text", StringType)))
    spark.createDataFrame(spark.sparkContext.parallelize(
      rows.map { case (i, t) => Row(i, t) }, 2), schema)
  }

  test("disposition covers added/removed/changed/unchanged; work set is added+changed") {
    val old = snap(1L -> "alpha", 2L -> "beta", 3L -> "gamma")
    val neu = snap(2L -> "beta", 3L -> "gamma prime", 4L -> "delta")
    val out = SnapshotDelta.diff(old, neu, "doc_id", "text")
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(3), r.getBoolean(4))))
      .toMap
    out shouldBe Map(
      1L -> (("removed", false)),
      2L -> (("unchanged", false)),
      3L -> (("changed", true)),
      4L -> (("added", true)))
  }

  test("null text is present, not absent: null→null unchanged, null↔text changed") {
    // A null text hashes to null; presence comes from the side markers.
    val old = snap(1L -> null, 2L -> null, 3L -> "alpha", 5L -> null)
    val neu = snap(1L -> null, 2L -> "beta", 3L -> null, 4L -> null)
    val out = SnapshotDelta.diff(old, neu, "doc_id", "text")
      .collect().map(r => r.getLong(0) -> r.getString(3)).toMap
    out shouldBe Map(1L -> "unchanged", 2L -> "changed", 3L -> "changed",
      4L -> "added", 5L -> "removed")
  }

  test("whitespace-only drift reads unchanged (normalized content hash)") {
    val old = snap(7L -> "a   b  c")
    val neu = snap(7L -> " a b c ")
    val out = SnapshotDelta.diff(old, neu, "doc_id", "text").collect()
    out.head.getString(3) shouldBe "unchanged"
  }
}
