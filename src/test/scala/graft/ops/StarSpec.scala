package graft.ops

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.ops.Star.Keyed

class StarSpec extends SparkSpec {

  private val customer = df("c_custkey BIGINT, c_mktsegment STRING", Seq(
    Row(1L, "AUTO"), Row(2L, "AUTO"), Row(3L, "RETAIL"), Row(4L, null)))

  private val orders = df(
    "o_orderkey BIGINT, o_custkey BIGINT, o_orderstatus STRING, o_totalprice DOUBLE, o_orderdate TIMESTAMP",
    Seq(
      Row(10L, 1L, "F", 100.0, java.sql.Timestamp.valueOf("1995-06-01 00:00:00")),
      Row(11L, 3L, "O", 200.0, java.sql.Timestamp.valueOf("2030-01-01 00:00:00")), // outside dim range
      Row(12L, 99L, "F", 300.0, java.sql.Timestamp.valueOf("1995-06-02 00:00:00")))) // missing customer

  test("dim: distinct attrs, dense keys (A6+W1)") {
    val d = Star.dim(customer, "c_mktsegment", "segment_key")
    d.count() shouldBe 3 // AUTO, RETAIL, null
    collectCol[Int](d.select("segment_key")).sorted shouldBe Seq(1, 2, 3)
  }

  test("fact: unmatched dim keys default to 0 (J3 null-key pattern)") {
    val dimSeg = Star.dim(customer, "c_mktsegment", "segment_key")
    val dimDate = DateDim.dateDim(spark, "1995-01-01", "1995-12-31")
    val fact = Star.factOrders(orders, customer, dimSeg, dimDate)
      .orderBy("o_orderkey").collect()
    fact.length shouldBe 3
    fact(0).getInt(2) shouldBe 19950601      // in range
    fact(1).getInt(2) shouldBe 0             // date outside dim
    fact(2).getInt(1) shouldBe 0             // missing customer → segment 0
  }

  test("assertUnique passes on unique keys and throws on duplicates (S8)") {
    Star.assertUnique(Keyed("customer", customer, Seq("c_custkey")))
    val dup = df("k INT", Seq(Row(1), Row(1)))
    val ex = intercept[IllegalArgumentException] {
      Star.assertUnique(Keyed("dup", dup, Seq("k")))
    }
    ex.getMessage should include("S8 uniqueness violated on dup(k)")
  }

  test("assertUnique: one query names the violated table, in the given order") {
    val a = df("k INT", Seq(Row(1), Row(2)))
    val b = df("k BIGINT, j INT", Seq(Row(1L, 1), Row(1L, 2), Row(1L, 2)))
    val c = df("k SMALLINT", Seq(Row(1.toShort), Row(1.toShort)))
    val ex = intercept[IllegalArgumentException] {
      Star.assertUnique(Keyed("a", a, Seq("k")),
        Keyed("b", b, Seq("k", "j")), Keyed("c", c, Seq("k")))
    }
    // b's (1, 2) repeats and so does c's 1: b comes first.
    ex.getMessage should include("S8 uniqueness violated on b(k,j)")
    Star.assertUnique(Keyed("a", a, Seq("k")),
      Keyed("b", b.distinct(), Seq("k", "j")))
  }

  test("assertUnique: equal keys in different tables never collide; null keys group") {
    val a = df("k INT", Seq(Row(1), Row(2), Row(null)))
    val b = df("k BIGINT", Seq(Row(1L), Row(2L), Row(null)))
    val pair = df("k BIGINT, j INT", Seq(Row(1L, null), Row(1L, 1), Row(null, 1)))
    Star.assertUnique(Keyed("a", a, Seq("k")), Keyed("b", b, Seq("k")),
      Keyed("pair", pair, Seq("k", "j")))
    // Two null keys are a duplicate, as in a GROUP BY.
    val nulls = df("k BIGINT, j INT", Seq(Row(1L, null), Row(1L, null)))
    intercept[IllegalArgumentException](
      Star.assertUnique(Keyed("nulls", nulls, Seq("k", "j"))))
      .getMessage should include("S8 uniqueness violated on nulls(k,j)")
    // A key that does not cast exactly to BIGINT is refused, not checked.
    intercept[IllegalArgumentException](
      Star.assertUnique(Keyed("s", strDf("k", Seq("x")), Seq("k"))))
  }

  test("bridge: distinct (order, dim-key) pairs via lineitem (J4)") {
    val part = df("p_partkey BIGINT, p_brand STRING", Seq(Row(1L, "B1"), Row(2L, "B1"), Row(3L, "B2")))
    val lineitem = df("l_orderkey BIGINT, l_partkey BIGINT", Seq(
      Row(10L, 1L), Row(10L, 2L), // same brand twice → one bridge row
      Row(10L, 3L), Row(11L, 1L)))
    val bridge = Star.bridgeOrderBrand(lineitem, part, Star.dim(part, "p_brand", "brand_key"))
    bridge.count() shouldBe 3
    Star.assertUnique(Keyed("bridge", bridge, Seq("o_orderkey", "brand_key")))
  }
}
