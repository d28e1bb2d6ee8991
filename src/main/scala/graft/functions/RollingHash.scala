package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Rabin-Karp polynomial rolling hash `acc = (acc*31 + codepoint) mod
  * 1e9+7` over a string's code points — the kernel behind
  * `graft_rolling_hash`.
  *
  * The built-in formulation (split to chars → transform to code points →
  * aggregate fold) is three nested CodegenFallback lambdas evaluated per
  * row — an interpreted expression-tree walk per CHARACTER on a full-corpus
  * fingerprint scan. The SQL function is a `StaticInvoke` of [[hash]]
  * instead, iterating CODE POINTS exactly like the DuckDB oracle's
  * `unicode(ch)` per-char fold, so fingerprints stay cross-engine
  * comparable.
  */
object RollingHash {

  private val Mod = 1000000007L

  def hash(u: UTF8String): Long = {
    val s = u.toString
    var acc = 0L
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      acc = (acc * 31L + cp) % Mod
    }
    acc
  }
}
