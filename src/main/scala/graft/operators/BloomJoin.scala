package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Bloom-filter join pruning — the "runtime filter" / sideways-
  * information-passing pattern (reference analogue: the key-membership
  * prefilters its load scripts express as `WHERE id IN (SELECT …)`;
  * engine analogue: Spark's `spark.sql.optimizer.runtime.bloomFilter.*`,
  * which this operator makes an explicit, composable library surface).
  *
  * The filter is Spark's own: `graft_bloom_filter_agg` (Spark's
  * `BloomFilterAggregate`) folds the dim keys' `xxhash64` into a
  * mergeable bit array, and `graft_might_contain` (Spark's
  * `BloomFilterMightContain`) probes it over a scalar subquery — the same
  * pair [[graft.plans.BloomJoinInject]] injects. The subquery runs once,
  * its few-KB result rides to every probe task, and the membership test
  * is a codegen'd filter AT THE SCAN — so fact rows that cannot join are
  * dropped before they are shuffled. The exact verify join afterwards
  * sees only `matches + ε` rows (ε = false positives) instead of the
  * full fact table.
  *
  * Sizing is one number, the expected distinct dim keys: Spark gives the
  * filter 8 bits per expected item and picks the hash count.
  *
  * Exactness contract: Bloom filters have false positives but NEVER
  * false negatives, and [[prunedSemiJoin]] re-verifies with a real
  * left-semi join — the result is identical to the unpruned join
  * (OperatorsSpec proves candidates ⊇ matches and result equality).
  * Keys hash as BIGINT on both sides, so INT and BIGINT keys agree.
  */
object BloomJoin {

  /** The pruned probe: fact rows surviving the bloom test over `dim`'s
    * keys. An empty dim yields a NULL filter, which keeps no row. False
    * positives included — follow with [[prunedSemiJoin]] (or any exact
    * join) when exact semantics are required. */
  def candidates(fact: DataFrame, factKey: Column, dim: DataFrame,
      dimKey: Column, expectedItems: Long = 8192): DataFrame = {
    val bloom = dim.select(call_function("graft_bloom_filter_agg",
      xxhash64(dimKey.cast("long")), lit(expectedItems))).scalar()
    fact.filter(call_function("graft_might_contain", bloom,
      xxhash64(factKey.cast("long"))))
  }

  /** Exact bloom-pruned left-semi join: fact rows whose `factKey` is in
    * `dim`'s `dimKey` set — the bloom cuts the shuffle, the semi join
    * removes the false positives. */
  def prunedSemiJoin(fact: DataFrame, factKey: Column, dim: DataFrame,
      dimKey: Column, expectedItems: Long = 8192): DataFrame = {
    val keys = dim.select(dimKey.cast("long").as("graft_dim_key")).distinct()
    candidates(fact, factKey, dim, dimKey, expectedItems)
      .join(keys, factKey.cast("long") === col("graft_dim_key"), "left_semi")
  }
}
