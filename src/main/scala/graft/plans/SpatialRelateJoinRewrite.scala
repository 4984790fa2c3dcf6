package graft.plans

import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.Inner
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.types.{LongType, StringType}

/** SURVEY §4 "Spatial point-in-polygon join" row, automated (r12) — the
  * optimizer twin of [[RadiusJoinRewrite]] for the simple-feature
  * relations: a `Rule[LogicalPlan]` that turns a relate θ-join
  *
  *   a JOIN b ON graft_sf_relate('intersects', a.wkt, b.wkt)
  *                                        (no equi keys → the planner's
  *                                         only option is a nested loop)
  *
  * into a grid-cell cover equi-join: each side projects its WKT bbox
  * ([[WktBbox]]) and EXPLODES into the grid cells the bbox covers, the
  * join keys become the cell ids (hash join, shuffle partitioned by
  * cell), and the residual keeps (1) the original relate predicate —
  * exactness — and (2) a canonical-cell conjunct, `cell ==
  * floor(max(minx_a, minx_b)/cs)` per axis, so a pair whose covers
  * collide in several cells is emitted EXACTLY ONCE (the canonical cell
  * — the bottom-left cell of the bbox intersection — lies in both
  * covers by construction, and only one joined row satisfies it). No
  * DISTINCT needed, semantics identical to the θ-join: the
  * O(n·m) → O(n+m+pairs) move that makes the join survive 100 TB.
  *
  * Fires only for relations that IMPLY bbox overlap (everything except
  * `disjoint`), only on Inner joins with no existing equi key (which
  * also makes it idempotent — its own output joins on cell ids), and
  * only when both relate arguments are single-side column references.
  * Rows whose WKT fails to parse produce a null bbox → empty cell
  * cover → dropped, exactly matching the θ-join (their relate
  * predicate is null, never true).
  *
  * Cell size comes from `graft.spatial.relate.cell` (degrees, default
  * 1.0): a smaller cell trades explode fan-out (bbox_extent/cell cells
  * per row) for candidate-pair selectivity. Exactness never depends on
  * it.
  */
object SpatialRelateJoinRewrite extends Rule[LogicalPlan] with PredicateHelper {

  private val CellConf = "graft.spatial.relate.cell"

  private def refsOnly(e: Expression, side: LogicalPlan): Boolean =
    e.references.nonEmpty && e.references.subsetOf(side.outputSet)

  private def hasEquiKey(conjuncts: Seq[Expression], l: LogicalPlan,
      r: LogicalPlan): Boolean =
    conjuncts.exists {
      case EqualTo(a, b) =>
        (refsOnly(a, l) && refsOnly(b, r)) || (refsOnly(a, r) && refsOnly(b, l))
      case _ => false
    }

  /** graft_sf_relate(<literal relation != disjoint>, g, p) with g and p
    * on opposite sides. */
  private object RelateCond {
    def unapply(e: Expression): Option[(Expression, Expression)] = e match {
      case SfRelate(Literal(rel, StringType), g, p)
          if rel != null && rel.toString != "disjoint" =>
        Some((g, p))
      case _ => None
    }
  }

  private def cellOf(coord: Expression, cell: Double): Expression =
    Floor(Divide(coord, Literal(cell)))

  /** Project bbox + explode the cell cover of one side; returns the
    * plan and the (cellX, cellY) attributes. */
  private def coverSide(side: LogicalPlan, wkt: Expression, cell: Double,
      tag: String): (LogicalPlan, Attribute, Attribute, Attribute) = {
    // runtime-replaceable functions are gone by now: the bare call
    val bbox = Alias(GraftExtensions.invoke(WktBbox, WktBbox.schema,
      nullResult = true, Seq(wkt)), s"__graft_bbox_$tag")()
    val projBbox = Project(side.output :+ bbox, side)
    val b = bbox.toAttribute
    def f(field: String, ord: Int) =
      GetStructField(b, ord, Some(field))
    val cellX = AttributeReference(s"__graft_cellx_$tag", LongType)()
    val cellY = AttributeReference(s"__graft_celly_$tag", LongType)()
    // Sequence is TimeZoneAwareExpression — an optimizer-created one
    // must carry the session zone or the plan goes unresolved
    def cells(lo: Expression, hi: Expression) =
      Sequence(lo, hi, None, Some(conf.sessionLocalTimeZone))
    val genX = Generate(
      Explode(cells(cellOf(f("minx", 0), cell), cellOf(f("maxx", 2), cell))),
      Nil, outer = false, None, Seq(cellX), projBbox)
    val genY = Generate(
      Explode(cells(cellOf(f("miny", 1), cell), cellOf(f("maxy", 3), cell))),
      Nil, outer = false, None, Seq(cellY), genX)
    (genY, cellX, cellY, b)
  }

  override def apply(plan: LogicalPlan): LogicalPlan = plan.transformUp {
    // Cross-with-condition is how a θ-join reaches the optimizer when
    // the query wrote crossJoin().filter(...) (the SPARQL spatial-join
    // path) — semantically Inner, and the rewrite gives it equi keys
    case j @ Join(left, right, Inner | org.apache.spark.sql.catalyst
        .plans.Cross, Some(cond), hint) =>
      val conjuncts = splitConjunctivePredicates(cond)
      val relate = conjuncts.collectFirst {
        case RelateCond(g, p)
            if (refsOnly(g, left) && refsOnly(p, right)) ||
              (refsOnly(g, right) && refsOnly(p, left)) =>
          if (refsOnly(g, left)) (g, p) else (p, g)
      }
      if (relate.isEmpty || hasEquiKey(conjuncts, left, right)) j
      else {
        val (lWkt, rWkt) = relate.get
        val cell = conf.getConfString(CellConf, "1.0").toDouble
        val (lPlan, lx, ly, lb) = coverSide(left, lWkt, cell, "l")
        val (rPlan, rx, ry, rb) = coverSide(right, rWkt, cell, "r")
        def f(b: Attribute, field: String, ord: Int) =
          GetStructField(b, ord, Some(field))
        // canonical cell of the PAIR: bottom-left cell of the bbox
        // intersection — present in both covers whenever the bboxes
        // overlap (implied by every non-disjoint relation), satisfied
        // by exactly one joined (cellX, cellY) row per pair
        val canonX = cellOf(Greatest(Seq(
          f(lb, "minx", 0), f(rb, "minx", 0))), cell)
        val canonY = cellOf(Greatest(Seq(
          f(lb, "miny", 1), f(rb, "miny", 1))), cell)
        val newCond = Seq(
          EqualTo(lx, rx), EqualTo(ly, ry),
          EqualTo(lx, canonX), EqualTo(ly, canonY)) ++ conjuncts
        val bucketed = Join(lPlan, rPlan, Inner,
          Some(newCond.reduce(And)), hint)
        Project(left.output ++ right.output, bucketed)
      }
  }
}
