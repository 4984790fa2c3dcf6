package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Full-batch logistic-regression training by gradient descent — the
  * minimal "train a quality classifier over corpus features" operator a
  * large-scale curation pipeline needs (fastText-style quality gates are
  * logistic models over document/embedding features; the scored output
  * feeds the same sampling/curriculum operators as any other signal).
  *
  * Scale shape — the textbook distributed-GD split:
  *  - the MODEL (dim+1 doubles) lives on the driver and enters each pass
  *    as a literal array folded into codegen — per iteration the data
  *    cost is ONE scan with a map-side-combinable componentwise gradient
  *    sum (posexplode → groupBy(pos)), so the shuffle carries dim
  *    partials per task, never N×dim element rows;
  *  - nothing O(N) reaches the driver: the per-iteration collect is the
  *    dim-row gradient — the same bounded-driver-state discipline as
  *    Lloyd's centroid relation or the PageRank loop counter.
  *
  * Cross-engine parity (same discipline as Clustering.lloyd): z is the
  * left-to-right `graft_dot` fold against the literal weight array
  * (bit-identical to the DuckDB list-comprehension twin), the sigmoid is
  * rounded to 9 dp PER ROW before aggregation (pins libm `exp` ULP
  * differences), updated weights round to 9 dp per iteration (pins
  * engine-order float summation in the gradient), and the fixed
  * iteration count keeps the oracle an unrolled CTE chain.
  */
object GradientDescent {

  import VectorSearch.dotSql

  private def rnd9(x: Double): Double =
    BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** @param data relation with `features` (array of numerics, fixed dim)
    *             and `y` (0/1 label)
    * @return one row per model coefficient: pos 0 = bias, pos k ≥ 1 =
    *         weight of features[k] (1-indexed), with the training-set
    *         log-loss and accuracy of the FINAL model repeated on every
    *         row (a single gate-friendly relation) */
  def logistic(data: DataFrame, iters: Int, lr: Double): DataFrame = {
    require(iters >= 1, "iters must be >= 1")
    require(lr > 0, "lr must be > 0")
    val session = data.sparkSession
    val d = data.select(col("features").cast("array<double>").as("x"),
      col("y").cast("double").as("y"))
    val dim = d.select(size(col("x")).as("d")).head.getInt(0)
    var bias = 0.0
    val w = Array.fill(dim)(0.0)
    def scored(df: DataFrame): DataFrame =
      df.withColumn("wl", array(w.toSeq.map(lit(_)): _*))
        .withColumn("z", lit(bias) + expr(dotSql("x", "wl")))
        .withColumn("p", round(lit(1.0) / (lit(1.0) + exp(-col("z"))), 9))
    for (_ <- 1 to iters) {
      // one row per component; sum(e) replicates identically across pos
      // (each input row contributes its residual once per component), so
      // the bias gradient rides along instead of needing a second agg
      val g = scored(d)
        .select((col("p") - col("y")).as("e"), col("x"))
        .select(col("e"), posexplode(col("x")))
        .toDF("e", "pos", "xv")
        .groupBy(col("pos"))
        .agg(sum(col("e") * col("xv")).as("g"), sum(col("e")).as("gb"),
          count(lit(1)).as("n"))
        .collect()
      val n = g.head.getLong(3).toDouble
      bias = rnd9(bias - lr * g.head.getDouble(2) / n)
      g.foreach { r =>
        val k = r.getInt(0)
        w(k) = rnd9(w(k) - lr * r.getDouble(1) / n)
      }
    }
    val metrics = scored(d)
      .withColumn("ll", round(-(col("y") * log(col("p")) +
        (lit(1.0) - col("y")) * log(lit(1.0) - col("p"))), 9))
      .agg(count(lit(1)).as("n"), round(avg(col("ll")), 6).as("log_loss"),
        round(avg(when((col("p") >= 0.5) === (col("y") === 1.0), 1.0)
          .otherwise(0.0)), 6).as("accuracy"))
    import session.implicits._
    val coefs = (0 to dim)
      .map(k => (k, if (k == 0) bias else w(k - 1)))
      .toDF("pos", "weight")
    coefs.crossJoin(broadcast(metrics)).orderBy(col("pos"))
  }
}
