package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** The signed-projection banding kernel of
  * [[graft.ops.Similarity.projNearDupPairs]] — for one quantized vector,
  * ALL `tables`×(1+`flips`) bucket entries in a single primitive loop.
  *
  * `graft_proj_entries(qv, tables, bits, flips)` →
  * `ARRAY<STRUCT<t INT, sig BIGINT>>`: for each table t, the packed
  * sign-bit signature of `bits` exact integer projections, followed by
  * `flips` margin-probe signatures (the signature with its k-th
  * smallest-|projection| bit flipped; ties by ascending bit index).
  * Hyperplane weight for (t, j, 0-based position i) is
  * `((i+1)·M(t,j)) mod 8191 − 4095` with `M(t,j) = 2654435761 +
  * 40503·(t·32+j)` — a distinct multiplicative hash per (table, bit), so
  * hyperplanes are independent rather than shifts of one another.
  *
  * All-integer arithmetic, order-independent sums: |qv·weight| ≤
  * |component|·4095·d stays far from BIGINT overflow for any realistic
  * quantized embedding, and the same formula in plain SQL (DuckDB
  * oracle) reproduces signatures, flip choices and entries bit-for-bit.
  * The dataframe formulation of the same kernel (a 72-column sum
  * aggregation over a posexploded vector + HOF sig packing) measures
  * ~0.5 s per pass at sf0.1 and codegens a multi-second compile unit;
  * the SQL function is a `StaticInvoke` of [[compute]], one static loop
  * called from generated code — `bits` may be a runtime column (it
  * scales with log2(corpus size) via a broadcast count), which a static
  * column expansion could not express.
  */
object ProjEntries {
  val outType: DataType = ArrayType(StructType(Seq(
    StructField("t", IntegerType, nullable = false),
    StructField("sig", LongType, nullable = false))), containsNull = false)

  def compute(qvA: ArrayData, tables: Int, bits: Int, flips: Int): ArrayData = {
    require(tables >= 1 && bits >= 1 && bits <= 62 && flips >= 0 && flips <= bits,
      s"graft_proj_entries: need tables>=1, 1<=bits<=62, 0<=flips<=bits; " +
        s"got tables=$tables bits=$bits flips=$flips")
    val d = qvA.numElements()
    val qv = qvA.toLongArray()
    val out = new Array[Any](tables * (1 + flips))
    var o = 0
    var t = 0
    while (t < tables) {
      var sig = 0L
      // up to 3 margin slots, sorted by (|projection| asc, bit index asc)
      val mAbs = Array.fill(math.max(flips, 1))(Long.MaxValue)
      val mBit = new Array[Long](math.max(flips, 1))
      var j = 0
      while (j < bits) {
        val mult = 2654435761L + 40503L * (t * 32 + j)
        var s = 0L
        var i = 0
        while (i < d) {
          s += qv(i) * (((i + 1) * mult) % 8191L - 4095L)
          i += 1
        }
        if (s >= 0) sig |= (1L << j)
        if (flips > 0) {
          val a = math.abs(s)
          var ins = -1
          var k = 0
          while (k < flips && ins < 0) {
            if (a < mAbs(k)) ins = k
            k += 1
          }
          if (ins >= 0) {
            var q = flips - 1
            while (q > ins) { mAbs(q) = mAbs(q - 1); mBit(q) = mBit(q - 1); q -= 1 }
            mAbs(ins) = a
            mBit(ins) = 1L << j
          }
        }
        j += 1
      }
      out(o) = InternalRow(t, sig)
      o += 1
      var f = 0
      while (f < flips) {
        out(o) = InternalRow(t, sig ^ mBit(f))
        o += 1
        f += 1
      }
      t += 1
    }
    new GenericArrayData(out)
  }
}
