package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.catalyst.optimizer.{ColumnPruning, ConstantFolding}
import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule

/** Automatic bloom-filter runtime-filter injection (VERDICT r6 stretch #8).
  * It writes, on its own, the same Spark `BloomFilterAggregate` /
  * `BloomFilterMightContain` pair that [[graft.operators.BloomJoin]]
  * builds by hand through `graft_bloom_filter_agg` and
  * `graft_might_contain`; the explicit operator suits a caller that
  * knows its dim, this rule a plain join under the conf gate below.
  * Reference analogue: the `WHERE id IN (SELECT …)` key-membership
  * prefilters the reference's load scripts write by hand; Spark analogue:
  * the sideways-information-passing pattern of Spark's own
  * `InjectRuntimeFilter` (public optimizer source), re-expressed here as
  * a composable, conf-tunable user rule.
  *
  * On a qualifying equi-join the rule rewrites the PROBE side
  *
  *   probe ⋈ build  ──▶  Filter(might_contain(subquery(bloom_agg(bkey)),
  *                              xxhash64(pkey)), probe) ⋈ build
  *
  * so probe rows that cannot join are dropped AT THE SCAN, before the
  * shuffle — at 100 TB the shuffle is the cost, and the bloom rides a
  * few-KB scalar-subquery broadcast instead of the build rows. The
  * rewrite is semantically transparent: false positives are removed by
  * the join itself, and a NULL probe key (filtered by might_contain's
  * NULL result) can never match an Inner/LeftSemi equi-join anyway.
  *
  * Fires only when ALL of:
  *   - `spark.graft.runtimeBloom.enabled` = true (default FALSE: Spark's
  *     built-in runtime filter already covers the default path; this rule
  *     is the explicit, heuristic-tunable library surface);
  *   - the join is Inner/LeftSemi with an extractable equi pair;
  *   - the build side carries a `Filter` (something made it selective),
  *     is under `maxCreationSideBytes`, and the probe side is at least
  *     `minSizeRatio` × larger (both conf-tunable);
  *   - no bloom filter already sits in the probe chain.
  *
  * Registered via `injectPreCBORule` — the once-after-operator-batch slot
  * that mirrors where Spark schedules its own InjectRuntimeFilter batch.
  */
object BloomJoinInject extends Rule[LogicalPlan] with PredicateHelper {

  private def enabled: Boolean =
    conf.getConfString("spark.graft.runtimeBloom.enabled", "false") == "true"
  private def maxCreationBytes: Long =
    conf.getConfString("spark.graft.runtimeBloom.maxCreationSideBytes",
      (32L * 1024 * 1024).toString).toLong
  private def minSizeRatio: Long =
    conf.getConfString("spark.graft.runtimeBloom.minSizeRatio", "4").toLong

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  private def hasSelectiveFilter(p: LogicalPlan): Boolean =
    p.exists { case _: Filter => true; case _ => false }

  /** Already-injected guard. Deliberately coarse — ANY might_contain in
    * the probe subtree, not just one over the same key: in a multi-way
    * join the probe chain of an upper join contains the bloomed lower
    * join, and one runtime filter per probe chain is the sane budget
    * (stacked blooms each cost a subquery broadcast for shrinking
    * returns). Also keeps the rule idempotent however it is scheduled. */
  private def alreadyFiltered(p: LogicalPlan): Boolean =
    p.exists {
      case Filter(c, _) =>
        c.exists(_.isInstanceOf[BloomFilterMightContain])
      case _ => false
    }

  private def injectedFilter(probe: LogicalPlan, probeKey: Expression,
      build: LogicalPlan, buildKey: Expression): LogicalPlan = {
    val bloomAgg = new BloomFilterAggregate(new XxHash64(Seq(buildKey)))
    val alias = Alias(bloomAgg.toAggregateExpression(), "graft_bloom")()
    // The subquery plan skips the remaining operator-optimization passes
    // (this rule runs inside them), so pre-prune it the way Spark's
    // InjectRuntimeFilter does: prune to the key column, fold constants.
    val agg = ConstantFolding(ColumnPruning(
      Aggregate(Nil, Seq(alias), build)))
    Filter(
      BloomFilterMightContain(ScalarSubquery(agg),
        new XxHash64(Seq(probeKey))),
      probe)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    if (!enabled) plan
    else plan.transformUp {
      case j @ Join(left, right, jt @ (Inner | LeftSemi), Some(cond), _) =>
        val equi = splitConjunctivePredicates(cond).collectFirst {
          case EqualTo(a, b) if refsOnly(a, left) && refsOnly(b, right) =>
            (a, b)
          case EqualTo(a, b) if refsOnly(a, right) && refsOnly(b, left) =>
            (b, a)
        }
        equi match {
          case Some((lk, rk)) =>
            val (lBytes, rBytes) =
              (left.stats.sizeInBytes, right.stats.sizeInBytes)
            // Build side = the smaller relation; for LeftSemi only the
            // right side is a legal build (the left survives the join).
            val buildRight = rBytes <= lBytes || jt == LeftSemi
            val (probe, pk, build, bk, pBytes, bBytes) =
              if (buildRight) (left, lk, right, rk, lBytes, rBytes)
              else (right, rk, left, lk, rBytes, lBytes)
            val fires = bBytes <= maxCreationBytes &&
              pBytes >= bBytes * minSizeRatio &&
              hasSelectiveFilter(build) &&
              !alreadyFiltered(probe)
            if (!fires) j
            else if (buildRight)
              j.copy(left = injectedFilter(probe, pk, build, bk))
            else j.copy(right = injectedFilter(probe, pk, build, bk))
          case None => j
        }
    }
}
