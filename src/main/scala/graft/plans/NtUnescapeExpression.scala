package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** N-Triples string unescape (`graft_nt_unescape`) — the exact inverse of
  * the renderer's escape chain (`QuadEmitter.lineExpr`), for the RDF text
  * SOURCE (the inverse of the S8/S9 sinks; VERDICT r4 "Missing" #2).
  *
  * This cannot be a `regexp_replace` chain: sequential replaces conflate
  * an escaped backslash with the escape that follows it (`\\n` — a literal
  * backslash then an `n` — would wrongly become a newline if `\n` is
  * replaced first, and `\\` first breaks the opposite way). The W3C
  * grammar (n-triples/#grammar-production-ECHAR) is one left-to-right
  * pass, so it runs as one static-call scan inside whole-stage codegen —
  * this is the per-character hot loop of a 100 TB text-ingest scan, same
  * tier as [[DotProduct]].
  *
  * Handles ECHAR (`\t \b \n \r \f \" \' \\`) and UCHAR (`\uXXXX`,
  * `\UXXXXXXXX`) — the renderer only ever emits five of these, but
  * external N-Quads files legally carry all of them. A malformed trailing
  * or non-hex escape passes through verbatim (lenient, like the
  * tolerant mode of common line-oriented RDF loaders): the parser's
  * master regex has already vouched for line shape, and erroring a 10⁹-row
  * ingest on one bad escape helps nobody — rejects are surfaced
  * relationally by [[graft.rdf.QuadParser.rejects]] instead.
  */
object NtUnescape {

  private def hexVal(c: Char): Int =
    if (c >= '0' && c <= '9') c - '0'
    else if (c >= 'a' && c <= 'f') c - 'a' + 10
    else if (c >= 'A' && c <= 'F') c - 'A' + 10
    else -1

  /** Parses `width` hex digits at `from`; -1 when short or non-hex. */
  private def hex(s: String, from: Int, width: Int): Int = {
    if (from + width > s.length) return -1
    var v = 0
    var i = 0
    while (i < width) {
      val d = hexVal(s.charAt(from + i))
      if (d < 0) return -1
      v = (v << 4) | d
      i += 1
    }
    v
  }

  /** One left-to-right pass; the common no-backslash case returns the
    * input UTF8String untouched (no copy). */
  def compute(u: UTF8String): UTF8String = {
    val s = u.toString
    var i = s.indexOf('\\')
    if (i < 0) return u
    val sb = new java.lang.StringBuilder(s.length)
    sb.append(s, 0, i)
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case 't' => sb.append('\t'); i += 2
          case 'b' => sb.append('\b'); i += 2
          case 'n' => sb.append('\n'); i += 2
          case 'r' => sb.append('\r'); i += 2
          case 'f' => sb.append('\f'); i += 2
          case '"' => sb.append('"'); i += 2
          case '\'' => sb.append('\''); i += 2
          case '\\' => sb.append('\\'); i += 2
          case 'u' =>
            val v = hex(s, i + 2, 4)
            if (v >= 0) { sb.append(v.toChar); i += 6 }
            else { sb.append(c); i += 1 } // lenient: verbatim
          case 'U' =>
            val v = hex(s, i + 2, 8)
            if (v >= 0 && Character.isValidCodePoint(v)) {
              sb.appendCodePoint(v); i += 10
            } else { sb.append(c); i += 1 }
          case _ => sb.append(c); i += 1
        }
      } else { sb.append(c); i += 1 }
    }
    UTF8String.fromString(sb.toString)
  }
}
