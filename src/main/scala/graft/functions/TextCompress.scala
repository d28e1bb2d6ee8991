package graft.functions

import org.apache.spark.unsafe.types.UTF8String

/** Compression-ratio text signal — the cheap repetitiveness/quality
  * measure production curation filters use alongside word statistics
  * (highly compressible text is boilerplate, log spam, or repeated
  * fragments; nearly incompressible text at natural-language lengths is
  * often encoded junk). DEFLATE is in the JDK (`java.util.zip.Deflater`),
  * so the signal needs no external library and runs as a narrow codegen
  * map like the media codecs.
  *
  * The compressed LENGTH is deterministic for a given input and level on
  * a given zlib implementation but NOT a cross-engine constant, so
  * queries gate on ORDER and BOUND properties (ratio sanity, repetitive
  * vs high-entropy discrimination) that an independent engine can
  * predict — the q115 bounded-gate pattern, not a byte-for-byte hash.
  */
object TextCompress {

  val MaxLen = 16 * 1024 * 1024

  /** `graft_deflate_len(text, level)`: DEFLATE length of the UTF-8 bytes
    * at `level` (1-9), raw stream with no zlib header; null (SQL NULL) on
    * null/oversized input or a level outside 1-9. */
  def deflateLen(s: UTF8String, level: Int): Integer = {
    if (s == null || level < 1 || level > 9) return null
    val b = s.getBytes
    if (b.length > MaxLen) return null
    val d = new java.util.zip.Deflater(level, true)
    try {
      d.setInput(b)
      d.finish()
      val buf = new Array[Byte](8192)
      var total = 0
      while (!d.finished()) total += d.deflate(buf)
      total
    } finally d.end()
  }
}
