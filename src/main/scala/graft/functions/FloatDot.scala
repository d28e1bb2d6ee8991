package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Left-fold double dot product of two FLOAT arrays — the kernel behind
  * `graft_float_dot`, the one hot-loop computation in this library that
  * the built-in surface cannot express efficiently (`zip_with`+`aggregate`
  * lambdas are CodegenFallback: one interpreted expression-tree walk per
  * element, per row). The SQL function is a `StaticInvoke` of [[dot]], so
  * the loop runs as one static call from inside whole-stage codegen —
  * preference order (b) of SURVEY §7.5: native expression over UDF.
  *
  * Arithmetic is IDENTICAL to the fold the DuckDB oracle runs
  * (acc += (double)x_i * (double)y_i, left to right), so cosines built on
  * it stay bit-for-bit comparable. Mismatched lengths fold the common
  * prefix (embeddings are fixed-width; zip_with would null out instead).
  * The `Array[Float]` overload is the same fold for the one-task tiers.
  */
object FloatDot {

  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble; i += 1 }
    acc
  }

  def dot(x: Array[Float], y: Array[Float]): Double = {
    val n = math.min(x.length, y.length)
    var acc = 0.0
    var i = 0
    while (i < n) { acc += x(i).toDouble * y(i).toDouble; i += 1 }
    acc
  }
}
