package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** K-means (Lloyd) clustering over an embedding column — the semantic-
  * clustering sibling of [[VectorSearch]]'s IVF coarse quantizer (which
  * deliberately SKIPS Lloyd iterations so its oracle stays trivial; here
  * the iterations are the point, with a fixed iteration count so a SQL
  * oracle can still replay them).
  *
  * Scale shape (the reason this is a library operator, not notebook code):
  *  - centroids are the ONLY broadcast — C ≈ N/initModulus rows of
  *    dim doubles, never O(N);
  *  - assignment is corpus × broadcast-centroids with the argmin taken by
  *    a partial-aggregable `min(struct(d2, cid, …))` — the N×C candidate
  *    rows collapse to N *before* the exchange (each vector's candidates
  *    are co-partitioned with the vector by construction), so the per-
  *    iteration shuffle carries N rows, not N×C;
  *  - centroid recompute is posexplode → groupBy(cid, pos) avg — partial
  *    aggregation (sum/count combine map-side) means the exchange carries
  *    C×dim partials per task, not N×dim element rows.
  *
  * Cross-engine parity (same discipline as AnnQueries): distances use the
  * hoisted form ‖a‖² − 2·a·b + ‖b‖² with every dot product a left-to-right
  * double fold (`graft_dot`), so d2 is bit-identical to the DuckDB
  * comprehension; recomputed centroid components are ROUNDED TO 6 DP as
  * part of the algorithm (both engines), which pins the next iteration's
  * inputs despite engine-order float summation in the mean; argmin ties
  * break on cid. Iteration count is a parameter, fixed per call — an
  * unbounded convergence loop would not be oracle-replayable.
  */
object Clustering {

  import VectorSearch.dotSql

  /** Runs `iters` Lloyd iterations. Input needs `vec_id` (long) and
    * `embedding` (array&lt;float|double&gt;); initial centroids are every
    * `initModulus`-th vector (deterministic seeding — at scale pass a
    * modulus derived from known corpus size, same contract as
    * `VectorSearch.ivfTopK`). Returns `(vec_id, cid, d2)` — the final
    * assignment and its squared L2 distance.
    */
  def lloyd(v: DataFrame, initModulus: Long, iters: Int): DataFrame =
    iterate(v, initModulus, iters)._1
      .select(col("vec_id"), col("cid"), col("d2"))

  /** Simplified (centroid-based) silhouette per cluster after `iters`
    * Lloyd rounds: for each vector, a = squared distance to its own
    * centroid, b = squared distance to the nearest OTHER centroid, s =
    * (b − a) / max(a, b) ∈ [−1, 1]; returns (cid, n_members,
    * mean_silhouette). Uses the final iteration's vector×centroid
    * distance matrix that assignment computed anyway — a and b are just
    * ranks 1 and 2 of each vector's distance column (every candidate is
    * a distinct centroid), so quality costs one extra window over the
    * matrix, not a new pass over the data. */
  def silhouette(v: DataFrame, initModulus: Long, iters: Int): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val cand = iterate(v, initModulus, iters)._2
    val w = Window.partitionBy(col("vec_id")).orderBy(col("d2"), col("cid"))
    val top2 = cand.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 2)
      .groupBy(col("vec_id"))
      .agg(min(when(col("rk") === 1, col("d2"))).as("a"),
        min(when(col("rk") === 1, col("cid"))).as("cid"),
        min(when(col("rk") === 2, col("d2"))).as("b"))
    top2
      .withColumn("s", (col("b") - col("a")) / greatest(col("a"), col("b")))
      .groupBy(col("cid"))
      .agg(count(lit(1)).as("n_members"),
        round(avg(col("s")), 6).as("mean_silhouette"))
  }

  /** Core Lloyd loop → (final assignment, final distance matrix). */
  private def iterate(v: DataFrame, initModulus: Long,
      iters: Int): (DataFrame, DataFrame) = {
    require(initModulus >= 1, "initModulus must be >= 1")
    require(iters >= 1, "iters must be >= 1")
    val vv = v.select(col("vec_id"), col("embedding"))
      .repartition(col("vec_id")) // spread the fold math off a one-split scan
      .select(col("vec_id"), col("embedding"),
        expr(dotSql("embedding", "embedding")).as("n2"))
    var cent = vv.filter(col("vec_id") % initModulus === 0)
      .select(expr(s"vec_id DIV $initModulus").as("cid"),
        col("embedding").cast("array<double>").as("ce"),
        col("n2").as("cn2"))
    var asg: DataFrame = null
    var cand: DataFrame = null
    for (i <- 1 to iters) {
      cand = vv.crossJoin(broadcast(cent))
        .withColumn("d2",
          col("n2") - lit(2d) * expr(dotSql("embedding", "ce")) + col("cn2"))
      // argmin as a partial-aggregable min over (d2, cid, payload): cid is
      // unique per candidate so the payload fields never reach comparison.
      asg = cand.groupBy(col("vec_id"))
        .agg(min(struct(col("d2"), col("cid"), col("embedding"), col("n2")))
          .as("m"))
        .select(col("vec_id"), col("m.cid").as("cid"), col("m.d2").as("d2"),
          col("m.embedding").as("embedding"), col("m.n2").as("n2"))
      if (i < iters) {
        cent = asg
          .select(col("cid"), posexplode(col("embedding")))
          .toDF("cid", "pos", "ev")
          .groupBy(col("cid"), col("pos"))
          .agg(round(avg(col("ev").cast("double")), 6).as("v"))
          .groupBy(col("cid"))
          .agg(array_sort(collect_list(struct(col("pos"), col("v"))))
            .as("pv"))
          .select(col("cid"), expr("transform(pv, x -> x.v)").as("ce"))
          .withColumn("cn2", expr(dotSql("ce", "ce")))
      }
    }
    (asg, cand.select(col("vec_id"), col("cid"), col("d2")))
  }
}
