package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** N-Triples literal escape (`graft_nt_escape`) — the OUTBOUND twin of
  * [[NtUnescape]] and the inner loop of the flagship serialize pipeline
  * (every literal of every quad passes through it in `renderNQuads` /
  * `renderTurtleBlocks`; at 100 TB the escape IS the render CPU).
  *
  * Replaces a five-deep `regexp_replace` chain (backslash → quote → LF →
  * CR → tab), which walks the string five times through five compiled
  * regex engines and allocates four intermediates. One pass, one output
  * buffer, and the common nothing-to-escape case returns the input
  * UTF8String untouched.
  *
  * Parity contract: BYTE-IDENTICAL to the sequential chain (the DuckDB
  * oracles replay the same five replaces — `QuadQueries.escSql`). The
  * chain ordering (backslash first) makes it equivalent to a single
  * per-character mapping, which is what runs here; ExtensionsSpec
  * asserts equality against the chain on adversarial strings, and
  * `NtUnescape(NtEscape(x)) == x` closes the loop.
  */
object NtEscape {

  private def needsEscape(c: Char): Boolean =
    c == '\\' || c == '"' || c == '\n' || c == '\r' || c == '\t'

  /** One pass; untouched input returns without copying. */
  def compute(u: UTF8String): UTF8String = {
    val s = u.toString
    var i = 0
    val n = s.length
    while (i < n && !needsEscape(s.charAt(i))) i += 1
    if (i == n) return u
    val sb = new java.lang.StringBuilder(n + 8)
    sb.append(s, 0, i)
    while (i < n) {
      val c = s.charAt(i)
      c match {
        case '\\' => sb.append("\\\\")
        case '"' => sb.append("\\\"")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ => sb.append(c)
      }
      i += 1
    }
    UTF8String.fromString(sb.toString)
  }
}
