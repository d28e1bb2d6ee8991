package graft.functions

import org.apache.spark.sql.catalyst.util.ArrayData

/** Exact squared L2 distance between two BIGINT arrays — the kernel behind
  * `graft_sqdist_q`, the hot loop of the fixed-point geometry family
  * ([[graft.ops.Cluster]] k-means assignment, trained-IVF probe/search).
  * Like [[FloatDot]], the `zip_with`+`aggregate` formulation of the same
  * sum is CodegenFallback (one interpreted tree-walk per element per row);
  * the SQL function is a `StaticInvoke` of [[sqDist]], so the N×k
  * assignment pass runs entirely in generated code.
  *
  * All-integer arithmetic: quantized components are ≤ ~2^21 (|x| ≤ ~2 in
  * 1e-6 units), so each squared term is ≤ ~2^42 and even million-dimension
  * sums stay far from BIGINT overflow. Identical term order to the DuckDB
  * oracle's `list_sum(list_transform(list_zip(...)))`; integer addition is
  * associative, so the value is order-independent anyway. Mismatched
  * lengths fold the common prefix (fixed-width vectors upstream). The
  * `Array[Long]` overload is the same fold for the one-task tiers.
  */
object LongSqDist {

  def sqDist(x: ArrayData, y: ArrayData): Long = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0L
    var i = 0
    while (i < n) { val d = x.getLong(i) - y.getLong(i); acc += d * d; i += 1 }
    acc
  }

  def sqDist(x: Array[Long], y: Array[Long]): Long = {
    val n = math.min(x.length, y.length)
    var acc = 0L
    var i = 0
    while (i < n) { val d = x(i) - y(i); acc += d * d; i += 1 }
    acc
  }
}
