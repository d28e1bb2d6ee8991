package graft.functions

import org.apache.spark.unsafe.types.UTF8String

import graft.SparkSpec

class TextCompressSpec extends SparkSpec {

  private def deflate(s: String, level: Int): Integer =
    TextCompress.deflateLen(UTF8String.fromString(s), level)
  private def dl(s: String, level: Int = 6): Int = deflate(s, level)

  test("deflateLen is deterministic and orders repetition below entropy") {
    val rep = "ab" * 64
    val rnd = "a1f9" + java.util.UUID.nameUUIDFromBytes("x".getBytes).toString * 4
    dl(rep) shouldBe dl(rep) // deterministic
    dl(rep) should be < dl(rnd.take(128))
    // highly repetitive text compresses below a quarter of its size
    dl(rep) should be < 32
  }

  test("bounds: output is positive and never exceeds input + small overhead") {
    for (s <- Seq("", "a", "hello world", "ab" * 500, "x" * 10000)) {
      val n = dl(s)
      if (s.isEmpty) n should be >= 0 else n should be > 0
      n should be <= (s.getBytes("UTF-8").length + 64)
    }
  }

  test("invalid level and null input return null (SQL NULL)") {
    deflate("abc", 0) shouldBe null
    deflate("abc", 10) shouldBe null
    TextCompress.deflateLen(null, 6) shouldBe null
  }

  test("expression runs inside the SQL surface with codegen") {
    import spark.implicits._
    val out = Seq(("ab" * 64, 1)).toDF("t", "i")
      .selectExpr("graft_deflate_len(t, 6) AS n",
        "graft_deflate_len(t, 99) AS bad")
      .collect().head
    out.getInt(0) should be > 0
    out.getInt(0) should be < 32
    out.isNullAt(1) shouldBe true
  }
}
