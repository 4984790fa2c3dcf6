package graft.functions

import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator

/** KMV (k-minimum-values) distinct sketch — Bar-Yossef et al.,
  * "Counting distinct elements in a data stream" (RANDOM'02): keep the
  * k smallest values of a uniform hash; with U_k the k-th smallest
  * hash as a fraction of the hash space, the distinct count estimates
  * as `(k-1)/U_k` (the unbiased form). When fewer than k distinct
  * hashes were seen the sketch IS the distinct set and the count is
  * exact — the estimator only engages past k.
  *
  * Deterministic and cross-engine replayable BY CONSTRUCTION: the hash
  * is the first 12 hex chars of md5 (48 bits — exact in a double), so
  * DuckDB can rebuild the identical sketch with a window function and
  * the oracle compares the ESTIMATE bit-for-bit, not within a
  * tolerance band (`('0x' || substring(md5(x), 1, 12))::BIGINT` there,
  * `conv(substring(md5(x), 1, 12), 16, 10)` here).
  *
  * Scale: the state is ≤ k longs (k ≈ 32-1024), merge is a bounded
  * sorted-insert union — a classic partial-aggregable sketch: partials
  * combine map-side, the shuffle carries ≤ 8k bytes per group, and
  * sketches of DIFFERENT corpora union losslessly (distinct counts
  * don't sum; KMV states do), the same re-aggregation contract as the
  * exact bitmap partials of q_agg_bitmap_rollup (Spark's
  * `bitmap_construct_agg` / `bitmap_or_agg`), but in ≤ k longs per group
  * whatever the key count.
  */
class KmvDistinctAgg(k: Int)
    extends Aggregator[Long, Array[Long], Double] {
  require(k >= 2, "KMV needs k >= 2")

  override def zero: Array[Long] = Array.empty[Long]

  override def reduce(b: Array[Long], h: Long): Array[Long] =
    KmvDistinctAgg.insert(b, h, k)

  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    b.foldLeft(a)(KmvDistinctAgg.insert(_, _, k))

  /** Exact below k distinct; `(k-1)/U_k` past it. */
  override def finish(r: Array[Long]): Double =
    if (r.length < k) r.length.toDouble
    else (k - 1) * KmvDistinctAgg.HashSpace / r(k - 1).toDouble

  override def bufferEncoder: Encoder[Array[Long]] =
    Encoders.kryo[Array[Long]]
  override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
}

object KmvDistinctAgg {
  /** 2^48 — the hash space of a 12-hex-char md5 prefix. */
  val HashSpace: Double = 281474976710656.0
  /** Same, as the exact long (θ of a not-yet-full sketch). */
  val HashSpaceLong: Long = 281474976710656L

  /** Sorted-insert of `h` into sketch `b`, keeping the k smallest
    * distinct hashes. Shared by the estimator and sketch aggregators.
    */
  private[functions] def insert(b: Array[Long], h: Long,
      k: Int): Array[Long] =
    if (b.length == k && h >= b(k - 1)) b
    else {
      val idx = java.util.Arrays.binarySearch(b, h)
      if (idx >= 0) b // already in the sketch
      else {
        val ins = -idx - 1
        val n = math.min(b.length + 1, k)
        if (ins >= n) b
        else {
          val out = new Array[Long](n)
          System.arraycopy(b, 0, out, 0, ins)
          out(ins) = h
          System.arraycopy(b, ins, out, ins + 1, n - ins - 1)
          out
        }
      }
    }
}

/** The sketch-emitting sibling of [[KmvDistinctAgg]] — returns the
  * sorted k-minimum-values array itself rather than the estimate, so
  * downstream SET OPERATIONS can combine sketches of different
  * relations (the theta-sketch construction, Dasgupta et al.
  * "Theta-sketch framework"): with θ = min over inputs of each
  * sketch's k-th minimum (or the full hash space when a sketch holds
  * fewer than k), the entries below θ are a uniform sample of each
  * set, so `|A∪B| ≈ |union of retained entries| · 2^48/θ` and
  * `|A∩B| ≈ |retained in both| · 2^48/θ` — distinct-count union,
  * intersection, and difference WITHOUT rescanning either input.
  * Combination is pure codegen array algebra (`filter`,
  * `array_intersect`, `array_except`, `array_distinct`) over ≤ k-long
  * arrays — see `q_agg_kmv_set_ops`.
  */
class KmvSketchAgg(k: Int)
    extends Aggregator[Long, Array[Long], Seq[Long]] {
  require(k >= 2, "KMV needs k >= 2")

  override def zero: Array[Long] = Array.empty[Long]
  override def reduce(b: Array[Long], h: Long): Array[Long] =
    KmvDistinctAgg.insert(b, h, k)
  override def merge(a: Array[Long], b: Array[Long]): Array[Long] =
    b.foldLeft(a)(KmvDistinctAgg.insert(_, _, k))
  override def finish(r: Array[Long]): Seq[Long] = r.toSeq

  override def bufferEncoder: Encoder[Array[Long]] =
    Encoders.kryo[Array[Long]]
  override def outputEncoder: Encoder[Seq[Long]] =
    org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]()
}
