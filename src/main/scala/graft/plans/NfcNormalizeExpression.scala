package graft.plans

import java.text.Normalizer

import org.apache.spark.unsafe.types.UTF8String

/** Unicode NFC normalization, the kernel of `graft_nfc` (SURVEY §2.12a
  * tier) — the canonical-composition pass a multi-source text
  * pipeline runs before ANY exact-match dedup or token counting:
  * "café" with a combining acute (U+0065 U+0301) and precomposed "café"
  * (U+00E9) are byte-different but canonically equal, so un-normalized
  * corpora leak duplicates straight past hash-based dedup
  * (reference analogue: the NUL/whitespace cleanup scalars in
  * `cam/clean.py` — same normalize-before-compare contract, lifted to
  * Unicode canon). Registered for SQL by [[GraftExtensions]]; the
  * correctness oracle is DuckDB's independent
  * utf8proc-backed `nfc_normalize` (both implement Unicode TR#15 NFC).
  *
  * One `java.text.Normalizer` static call per row inside whole-stage
  * codegen. The quick-check fast path inside the JDK makes already-NFC
  * ASCII effectively free, so at 100 TB this is a pure scan op.
  */
object NfcNormalize {
  def compute(s: UTF8String): UTF8String = {
    val str = s.toString
    // JDK quick-check: isNormalized is a cheap scan that short-circuits
    // the common already-composed case without allocating.
    if (Normalizer.isNormalized(str, Normalizer.Form.NFC)) s
    else UTF8String.fromString(Normalizer.normalize(str, Normalizer.Form.NFC))
  }
}
