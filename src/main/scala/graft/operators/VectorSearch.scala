package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Parameterized similarity-search building blocks (the library surface
  * behind the gated `q_ann_*` / `q_dedup_embedding` catalog; VERDICT r2
  * watch item — LSH bits, vector dim, hyperplane seed are parameters
  * here, pinned by the catalog for its oracles).
  *
  * All dot products go through `graft_dot`, one call of the kernel
  * [[graft.plans.DotProduct]] — one static-call primitive
  * loop per row, bit-identical to the HOF `aggregate(zip_with(...))`
  * chain and to the DuckDB oracle's list comprehension.
  */
object VectorSearch {

  /** `graft_dot(a, b)` as SQL. */
  def dotSql(a: String, b: String): String = s"graft_dot($a, $b)"

  /** Vectors with the L2 norm precomputed ONCE per vector — cosine per
    * candidate pair is then a single dot product, not three (the
    * O(pairs × dim) term is the whole verify cost at scale). The norm is
    * `coalesce`d non-nullable so join-inferred `isnotnull` constraints
    * can't push the fold into the scan (PERF.md #2). */
  def withNorm(s: SparkSession, emb: DataFrame, id: Column,
      embedding: Column): DataFrame = {
    emb
      .select(id.as("vec_id"), embedding.as("embedding"))
      .repartition(col("vec_id")) // spread vector math off a one-split scan
      .select(col("vec_id"), col("embedding"),
        coalesce(expr(s"sqrt(${dotSql("embedding", "embedding")})"), lit(0d))
          .as("nrm"))
  }

  /** Deterministic pseudo-random hyperplane `b` as a SQL array literal —
    * component j is a Knuth multiplicative hash of (b, j), evaluated at
    * plan-build time so any SQL engine replays it exactly.
    * @param dim vector dimensionality (the corpus's, default 64) */
  def hyperplaneSql(b: Int, dim: Int = 64): String = {
    val vals = (1 to dim)
      .map(j => s"${(((b * dim + j) * 2654435761L) % 1000 - 500).toDouble}D")
    s"array(${vals.mkString(",")})"
  }

  /** Random-hyperplane sign-LSH bucket id: bit b = sign of the dot with
    * hyperplane b. More bits → smaller buckets (2^bits of them); pair
    * that with multi-probe at higher corpus sizes.
    *
    * The hyperplanes are `dim`-long literals, so a vector of any OTHER
    * length gets a NULL bucket (graft_dot nulls on length mismatch and
    * the explicit size gate keeps it null rather than letting
    * `IF(null > 0, …, 0)` default every bit to 0) — a mis-declared dim
    * surfaces as null buckets instead of silently collapsing the whole
    * corpus into bucket 0 and turning the LSH join quadratic.
    * @param bits signature width (default 4 → 16 buckets)
    * @param dim  vector dimensionality; must match the data */
  def signLshBucketSql(e: String, bits: Int = 4, dim: Int = 64): String = {
    val bucket = (0 until bits)
      .map(b => s"IF(graft_dot($e, ${hyperplaneSql(b, dim)}) > 0, ${1 << b}, 0)")
      .mkString("(", " + ", ")")
    s"IF(size($e) = $dim, $bucket, CAST(NULL AS INT))"
  }

  // --------------------------------------------------------------------
  // IVF-Flat — parameterized surface behind q_ann_ivf_* (VERDICT r4 #5:
  // the quantizer size is a CALLER-SUPPLIED parameter; the operator path
  // runs no driver-side action — at scale the modulus comes from a known
  // corpus size, table stats, or a prior pass, never a per-query count).
  // --------------------------------------------------------------------

  /** Deterministic coarse quantizer: every `centroidModulus`-th vector of
    * a [[withNorm]]-shaped relation is a centroid (`vec_id % CM = 0`, so
    * CM = 1 means every vector is a centroid — ADVICE r5 #1; the old
    * `% CM = 1` form made that limit unreachable). CM = ⌈√N⌉ gives the
    * classic C ≈ √N balance point; deterministic (vs k-means) so a SQL
    * oracle replays it exactly. */
  def ivfCentroids(v: DataFrame, centroidModulus: Long): DataFrame = {
    require(centroidModulus >= 1, s"centroidModulus must be >= 1")
    v.filter(col("vec_id") % centroidModulus === 0)
      .select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("nrm").as("cn"))
  }

  /** Nearest-`keep` centroid assignment, BROADCAST centroids: cost N×C
    * with no shuffle on the corpus side — the right shape while the
    * centroid set fits the broadcast cap (C ≈ √N ⇒ fine to ~10⁹
    * vectors). Output: input columns + `cid`, ≤ keep rows per vector. */
  def ivfAssign(df: DataFrame, cents: DataFrame, keep: Int): DataFrame = {
    val byCos = Window.partitionBy(col("vec_id"))
      .orderBy(expr(dotSql("embedding", "ce"))
        .divide(col("nrm") * col("cn")).desc, col("cid"))
    df.crossJoin(broadcast(cents))
      .withColumn("crank", row_number().over(byCos))
      .filter(col("crank") <= keep)
      .drop("ce", "cn", "crank")
  }

  /** Nearest-`keep` assignment against a PARTITIONED centroid relation —
    * the past-10⁹-vectors variant (VERDICT r4 stretch #8) for when the
    * centroid set itself outgrows the broadcast cap. Two-stage argmin:
    * centroids land in `parts` groups by `pmod(cid, parts)`, each vector
    * replicates to every group (an equi-join on the group id — N×parts
    * shuffled rows, the scalable replacement for an O(N×C) broadcast),
    * per-group top-`keep` by cosine, then a global top-`keep` over the
    * ≤ parts×keep survivors per vector. Same cosine expression and
    * (cos desc, cid) tie-break as [[ivfAssign]] ⇒ identical output
    * (OperatorsSpec parity test). */
  def ivfAssignPartitioned(df: DataFrame, cents: DataFrame, keep: Int,
      parts: Int): DataFrame = {
    require(parts >= 1, s"parts must be >= 1")
    val cp = cents.withColumn("pid", pmod(col("cid"), lit(parts.toLong)))
    val vp = df.withColumn("pid", explode(sequence(lit(0L), lit(parts - 1L))))
    val cosC = expr(dotSql("embedding", "ce")) / (col("nrm") * col("cn"))
    val local = Window.partitionBy(col("pid"), col("vec_id"))
      .orderBy(col("cos_c").desc, col("cid"))
    val partial = vp.join(cp, Seq("pid"))
      .withColumn("cos_c", cosC)
      .withColumn("crank", row_number().over(local))
      .filter(col("crank") <= keep)
    val global = Window.partitionBy(col("vec_id"))
      .orderBy(col("cos_c").desc, col("cid"))
    partial.withColumn("grank", row_number().over(global))
      .filter(col("grank") <= keep)
      .drop("pid", "ce", "cn", "cos_c", "crank", "grank")
  }

  /** Persist the IVF index — centroids + inverted lists — as parquet.
    * The serving split every ANN deployment needs: corpus assignment
    * (the N×C term) runs ONCE at build time; later query batches touch
    * only the index ([[ivfSearchIndex]]), never the corpus — the ANN
    * sibling of TextDedup's persisted band index (`q_dedup_incremental`).
    * Lists are repartitioned by `cid` so each inverted list is clustered
    * in its own files; at scale add `partitionBy` bucketing so probes
    * prune at the FILE level. */
  def ivfWriteIndex(v: DataFrame, centroidModulus: Long, path: String): Unit = {
    val cents = ivfCentroids(v, centroidModulus)
    cents.write.mode("overwrite").parquet(s"$path/centroids")
    ivfAssign(v, cents, 1)
      .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
      .repartition(col("cid"))
      .write.mode("overwrite").parquet(s"$path/lists")
  }

  /** Probe a [[ivfWriteIndex]]-persisted index: assign each query to its
    * `nprobe` nearest stored centroids, equi-join the stored lists on the
    * list id (the shuffle key), exact re-rank inside. `queries` must be
    * [[withNorm]]-shaped; results are identical to [[ivfTopK]] over the
    * original corpus because centroids, list assignment, cosine
    * expression and (cos desc, id) tie-break all round-trip exactly. */
  def ivfSearchIndex(s: SparkSession, path: String, queries: DataFrame,
      nprobe: Int = 2, k: Int = 3): DataFrame = {
    val cents = s.read.parquet(s"$path/centroids")
    val lists = s.read.parquet(s"$path/lists")
    val probes = ivfAssign(queries, cents, nprobe)
      .select(col("cid"), col("vec_id").as("qid"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val joined = probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos",
        expr(dotSql("qe", "embedding")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nn_id"), col("rank"),
        round(col("cos"), 9).as("cos"))
  }

  /** IVF-Flat top-k search: build inverted lists (nearest centroid per
    * corpus vector), probe each query's `nprobe` nearest lists, exact
    * re-rank inside the probed lists. The list id is the shuffle key —
    * only ~nprobe/C of the corpus is touched per query. `assign` defaults
    * to the broadcast quantizer; pass
    * `ivfAssignPartitioned(_, _, _, parts)` past broadcast scale. */
  def ivfTopK(v: DataFrame, isQuery: Column, centroidModulus: Long,
      nprobe: Int = 2, k: Int = 3,
      assign: (DataFrame, DataFrame, Int) => DataFrame = ivfAssign): DataFrame = {
    val cents = ivfCentroids(v, centroidModulus)
    val lists = assign(v, cents, 1)
      .select(col("cid"), col("vec_id"), col("embedding"), col("nrm"))
    val probes = assign(v.filter(isQuery), cents, nprobe)
      .select(col("cid"), col("vec_id").as("qid"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val joined = probes.join(lists, Seq("cid"))
      .filter(col("qid") =!= col("vec_id"))
      .withColumn("cos",
        expr(dotSql("qe", "embedding")) / (col("qn") * col("nrm")))
    val w = Window.partitionBy(col("qid"))
      .orderBy(col("cos").desc, col("vec_id"))
    joined.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("qid"), col("vec_id").as("nn_id"), col("rank"),
        round(col("cos"), 9).as("cos"))
  }
}
