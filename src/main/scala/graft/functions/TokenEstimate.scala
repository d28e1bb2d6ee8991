package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** BPE-ish token-count estimate — the kernel behind
  * `graft_token_estimate`: lex the text into ASCII-letter runs / single
  * digits / single other-non-space code points, each run contributing
  * ceil(len/4) tokens (≈4 chars per BPE token).
  *
  * Exactly the semantics of the builtin form
  * `aggregate(transform(regexp_extract_all(s, '[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]'), ...))`
  * — but that is a regex scan plus two CodegenFallback lambdas per row; on
  * a full-corpus stats pass the interpreted walk per token dominates. The
  * SQL function is a `StaticInvoke` of [[estimate]], one code-point loop.
  * Whitespace is regex-`\s` ([ \t\n\x0B\f\r]), NOT Character.isWhitespace,
  * to match the regex form and the DuckDB oracle.
  */
object TokenEstimate {

  def estimate(u: UTF8String): Long = {
    val s = u.toString
    var cnt = 0L
    var run = 0
    var i = 0
    while (i < s.length) {
      val cp = s.codePointAt(i)
      i += Character.charCount(cp)
      if ((cp >= 'A' && cp <= 'Z') || (cp >= 'a' && cp <= 'z')) run += 1
      else {
        if (run > 0) { cnt += (run + 3) / 4; run = 0 }
        val ws = cp == ' ' || cp == '\t' || cp == '\n' || cp == 0x0B ||
          cp == '\f' || cp == '\r'
        if (!ws) cnt += 1
      }
    }
    if (run > 0) cnt += (run + 3) / 4
    cnt
  }
}
