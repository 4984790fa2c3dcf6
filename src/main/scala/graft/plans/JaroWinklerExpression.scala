package graft.plans

import org.apache.spark.unsafe.types.UTF8String

/** Jaro-Winkler string similarity, the kernel of `graft_jaro_winkler`
  * (SURVEY §2.12a tier) — the approximate-match scorer behind
  * name/address linkage (reference analogue: the fuzzy road-name match in
  * `cam/address.py`'s normalization joins). Registered for SQL by
  * [[GraftExtensions]].
  *
  * Standard definition (Winkler 1990): Jaro similarity from the matched
  * character count m inside a ⌊max(|a|,|b|)/2⌋−1 window and half-counted
  * transpositions t as (m/|a| + m/|b| + (m−t)/m)/3; the Winkler prefix
  * boost sim + ℓ·0.1·(1−sim) applies for common prefixes ℓ ≤ 4 when
  * sim > 0.7. Empty inputs score 0 — the same conventions as DuckDB's
  * `jaro_winkler_similarity`, which the correctness gate uses as the
  * independent oracle (both engines implement the published algorithm;
  * parity verified byte-for-byte in ExtensionsSpec and 6-dp-gated in
  * `q_join_jaro_winkler`).
  *
  * One static JVM call per row inside whole-stage codegen; the O(|a|·|b|)
  * window scan allocates two boolean flag arrays per call — fine for the
  * name-length strings this targets (blocking keeps candidate pairs, not
  * string length, as the scale dimension).
  */
object JaroWinkler {
  private val PrefixScale = 0.1
  private val BoostThreshold = 0.7
  private val MaxPrefix = 4

  /** The SQL function's entry point. */
  def compute(a: UTF8String, b: UTF8String): Double =
    compute(a.toString, b.toString)

  /** Standard Jaro-Winkler over Java chars (inputs here are ASCII part /
    * name strings; supplementary-plane text would need codepoint
    * iteration — as would the oracle's). */
  def compute(a: String, b: String): Double = {
    val la = a.length
    val lb = b.length
    if (la == 0 || lb == 0) return 0.0
    if (a == b) return 1.0
    val window = math.max(math.max(la, lb) / 2 - 1, 0)
    val ma = new Array[Boolean](la)
    val mb = new Array[Boolean](lb)
    var m = 0
    var i = 0
    while (i < la) {
      val lo = math.max(0, i - window)
      val hi = math.min(lb - 1, i + window)
      var j = lo
      var found = false
      while (j <= hi && !found) {
        if (!mb(j) && a.charAt(i) == b.charAt(j)) {
          ma(i) = true; mb(j) = true; m += 1; found = true
        }
        j += 1
      }
      i += 1
    }
    if (m == 0) return 0.0
    // transpositions: matched chars of a vs matched chars of b, in order
    var t = 0
    var j = 0
    i = 0
    while (i < la) {
      if (ma(i)) {
        while (!mb(j)) j += 1
        if (a.charAt(i) != b.charAt(j)) t += 1
        j += 1
      }
      i += 1
    }
    val md = m.toDouble
    val jaro = (md / la + md / lb + (md - t / 2) / md) / 3.0
    if (jaro <= BoostThreshold) return jaro
    var l = 0
    val maxL = math.min(MaxPrefix, math.min(la, lb))
    while (l < maxL && a.charAt(l) == b.charAt(l)) l += 1
    jaro + l * PrefixScale * (1.0 - jaro)
  }
}
