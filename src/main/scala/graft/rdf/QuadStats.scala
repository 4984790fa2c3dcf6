package graft.rdf

import org.apache.spark.sql.DataFrame

/** Per-store predicate statistics for BGP planning — the statistics
  * step every RDF store runs at load time (GraphDB and TDB2 both
  * collect predicate histograms during their bulk import; the
  * reference preloads exactly such a store, README "importrdf
  * preload"). Collected ONCE per quad relation ([[compute]], whose
  * distinct is a shuffle over the whole relation; [[QuadStore.write]]
  * runs it over the files it wrote and persists the result in the
  * store's sidecar). Driver state is one small map (one entry per
  * distinct predicate; RDF corpora have tens of predicates regardless
  * of row count, so this is O(schema), not O(data), at 100 TB too).
  *
  * Two statistics per predicate:
  *
  *  - CARDINALITY — [[Bgp.select]] consults it as a REFINEMENT of its
  *    structural selectivity ranking (Stocker et al. WWW'08): patterns
  *    with the same bound-term shape order by actual predicate
  *    cardinality, so a query written common-predicate-first still
  *    seeds its join with the rarest pattern. Ordering is a pure
  *    plan-shape choice — joins commute — so absent stats (ad-hoc
  *    relations, the DSv2 store path) everything falls back to the
  *    structural rank alone.
  *  - (subject, objectValue) UNIQUENESS (r15) — when a predicate's
  *    partition carries no two quads with the same (subject,
  *    objectValue) pair, EVERY binding relation a triple pattern over
  *    that predicate can produce is already duplicate-free (constant
  *    terms only subset the rows; the projected tuple always contains
  *    enough of (subject, objectValue, predicate, graph) to separate
  *    surviving rows), so the per-pattern set-semantics `distinct` is
  *    provably a no-op and [[Bgp.bindings]] skips its shuffle — at
  *    100 TB that is one full exchange per triple pattern. A predicate
  *    with ANY duplicate pair (two graphs carrying the same statement,
  *    datatype/lang variants of one lexical form, repeated rows) keeps
  *    the distinct. Correctness is one-sided: a missing or stale-false
  *    flag only costs the redundant shuffle.
  */
object QuadStats {

  /** Predicate statistics: cardinalities plus the set of predicates
    * whose (subject, objectValue) pairs are duplicate-free. */
  final case class Stats(counts: Map[String, Long], uniqSO: Set[String])

  /** Keyed by DataFrame identity: the preloaded store relation is a
    * per-(session, dir) singleton, so identity is exactly the store;
    * weak keys die with the relation. */
  private val cache = new java.util.WeakHashMap[DataFrame, Stats]()

  /** The statistics of `quads`, predicates in the aggregate's row order
    * (a null predicate is not counted). */
  def compute(quads: DataFrame): Stats = {
    import org.apache.spark.sql.functions._
    val rows = quads.groupBy("predicate").agg(count(lit(1)),
      countDistinct(col("subject"), col("objectValue")))
      .collect().filter(!_.isNullAt(0))
    Stats(rows.map(r => r.getString(0) -> r.getLong(1))
      .to(scala.collection.immutable.VectorMap),
      rows.collect { case r if r.getLong(1) == r.getLong(2) =>
        r.getString(0) }.toSet)
  }

  /** Collect predicate statistics for `quads` (idempotent; [[compute]]
    * on first call) and return the same relation. */
  def register(quads: DataFrame): DataFrame = {
    if (!cache.synchronized(cache.containsKey(quads))) {
      val st = compute(quads)
      cache.synchronized(cache.put(quads, st))
    }
    quads
  }

  /** Attach ALREADY-COLLECTED statistics (read from a persisted
    * store's sidecar — [[QuadStore.open]]) without any aggregation:
    * a fresh session serving a durable store must not pay a corpus
    * pass to recover what the bulk load already counted. */
  def registerPrecomputed(quads: DataFrame, st: Stats): DataFrame = {
    cache.synchronized(cache.put(quads, st))
    quads
  }

  def lookup(quads: DataFrame): Option[Map[String, Long]] =
    cache.synchronized(Option(cache.get(quads))).map(_.counts)

  /** Predicates with duplicate-free (subject, objectValue) pairs —
    * `None` when the relation has no registered statistics. */
  def lookupUniq(quads: DataFrame): Option[Set[String]] =
    cache.synchronized(Option(cache.get(quads))).map(_.uniqSO)
}
