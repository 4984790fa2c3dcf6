package graft.plans

import org.apache.spark.sql.catalyst.util.ArrayData

/** Dot product over embedding arrays, the kernel of `graft_dot` (SURVEY
  * §2.12a; builder brief "`functions.aggregate`/`zip_with` for the dot
  * product, or a custom `Expression`" — this is the custom-Expression
  * tier).
  *
  * The HOF formulation (`aggregate(zip_with(a, b, (x,y) -> x*y), 0d,
  * (acc,v) -> acc+v)`) allocates a zipped intermediate array and
  * interprets two lambdas per element; at 100 TB the dot product is the
  * inner loop of every ANN/near-dup query, so it gets a single static JVM
  * call inside whole-stage codegen: one primitive `while` loop, no
  * allocation, no virtual dispatch.
  *
  * Parity contract: accumulates left-to-right in doubles with each
  * element cast to double first — bit-identical to the HOF chain and to
  * the DuckDB oracle's list comprehension, so swapping it into a gated
  * query cannot move a hash. Arrays of unequal length return null (the
  * zip_with+aggregate chain also nulls: zip_with pads with null and
  * `null * y` poisons the sum), and so does a null ELEMENT on either side
  * (ADVICE r4: parquet-read embeddings are `array<float>` with
  * containsNull=true, and `null * y` poisons the HOF sum the same way —
  * silently reading the slot as 0.0 would be a non-null wrong answer).
  */
object DotProduct {

  /** Tight primitive loop, left-to-right double accumulation. Returns null
    * (boxed — one allocation per ROW, not per element) when the lengths
    * differ or any slot is null, matching zip_with's null-poisons-the-sum
    * semantics; isNullAt on an UnsafeArrayData is a bit test, so the
    * guard stays in the hot loop. `aFloat` / `bFloat` say whether each
    * array holds floats (else doubles). */
  def compute(a: ArrayData, b: ArrayData, aFloat: Boolean,
      bFloat: Boolean): java.lang.Double = {
    val n = a.numElements()
    if (n != b.numElements()) return null
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aFloat) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bFloat) b.getFloat(i).toDouble else b.getDouble(i)
      s += x * y
      i += 1
    }
    java.lang.Double.valueOf(s)
  }
}
