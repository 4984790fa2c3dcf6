package graft.plans

import java.util.regex.Pattern

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{BooleanType, DataType, DoubleType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.geom.Geometry
import org.locationtech.jts.operation.relateng.{RelateNG, RelatePredicate, TopologyPredicate}

/** Native GeoSPARQL simple-feature relation over WKT lexical forms
  * (SURVEY §2.12a custom-Expression tier; the predicates the reference
  * serves from GraphDB's GeoSPARQL plugin / PostGIS `ST_Intersects`,
  * `cam/tables/lf_address.py:80`).
  *
  * `graft_sf_relate(relation, geomWkt, otherWkt)` — relation one of
  * `within | intersects | disjoint | touches | overlaps | equals |
  * crosses` (a foldable literal); `geomWkt` the row geometry; `otherWkt`
  * a POLYGON/MULTIPOLYGON — usually a foldable FILTER literal (parsed
  * and prepared ONCE per plan into a cached [[SfRelate.ConstPoly]]),
  * but a per-row polygon COLUMN is supported too (the point-in-polygon
  * join path and the polygon-column relation variants), read and
  * prepared once per distinct value per task.
  *
  * Why an Expression and not composed `functions._`: the composed HOF
  * formulation evaluated INTERPRETED with no common-subexpression
  * elimination (PERF.md #31); here it is one call per row inside
  * whole-stage codegen.
  *
  * The DE-9IM decision is JTS `RelateNG`, on the regions
  * [[GeomConstruct]] reads: polygon ring lists by the EVEN-ODD rule (a
  * ring list JTS reads as valid as is, any other as the XOR of its
  * rings' regions), points and curves as written. So holed,
  * multi-part, concave and crossing-ring operands, and every
  * constructive output, relate exactly. A foldable polygon is prepared
  * once per plan (`RelateNG.prepare`).
  *
  * Null contract: null inputs poison to null; `within` is null for any
  * row that is not a POINT; `equals`/`overlaps` are false for non-polygon
  * rows and `crosses` for non-curve rows; a geometry whose prefix is
  * recognized but whose coordinates fail to parse yields null for
  * every relation EXCEPT disjoint (which treats unparseable as
  * not-disjoint=false — "garbage is neither intersecting nor
  * disjoint"); an unrecognized prefix is false for every relation
  * but `within`. A leading `<crs>` prefix is ignored on both sides. */
case class SfRelate(first: Expression, second: Expression, third: Expression)
  extends TernaryExpression {

  override def dataType: DataType = BooleanType
  override def prettyName: String = "graft_sf_relate"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (!Seq(first, second, third).forall(_.dataType == StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (relation, geomWkt, otherWkt) strings")
    else if (!first.foldable)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName relation argument must be a literal")
    else if (first.eval(null) == null ||
      !SfRelate.Relations.contains(first.eval(null).toString))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName relation must be one of ${SfRelate.Relations}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val relation: String = first.eval(null).toString

  /** Constant-side geometry, parsed once per plan when foldable. */
  @transient private lazy val constPoly: SfRelate.ConstPoly =
    if (third.foldable) {
      val v = third.eval(null)
      if (v == null) null else SfRelate.constPoly(v.toString)
    } else null

  /** A polygon COLUMN repeats few distinct values (the broadcast
    * dimension side of a spatial join), so each distinct one is read
    * and prepared once per task; the bound caps a column of unique
    * polygons. */
  @transient private lazy val columnPolys =
    new java.util.HashMap[String, SfRelate.ConstPoly]()

  /** Row-level entry shared by eval and codegen. */
  def relate(g: UTF8String, o: UTF8String): java.lang.Boolean = {
    val cp =
      if (third.foldable) constPoly
      else {
        if (columnPolys.size >= 1024) columnPolys.clear()
        columnPolys.computeIfAbsent(o.toString, SfRelate.constPoly(_))
      }
    if (cp == null) null
    else SfRelate.relate(relation, g.toString, cp)
  }

  override protected def nullSafeEval(rel: Any, g: Any, o: Any): Any =
    relate(g.asInstanceOf[UTF8String], o.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("sfRelate", this)
    nullSafeCodeGen(ctx, ev, (_, g, o) => {
      val tmp = ctx.freshName("sfRel")
      s"""
         |java.lang.Boolean $tmp = $ref.relate($g, $o);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp.booleanValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

object SfRelate {

  val Relations: Set[String] = Set("within", "intersects", "disjoint",
    "touches", "overlaps", "equals", "crosses")

  private val KindP = Pattern.compile("^\\s*(POINT|MULTIPOINT|LINESTRING|" +
    "MULTILINESTRING|POLYGON|MULTIPOLYGON)\\s*\\(")

  /** The recognized geometry keyword a WKT literal starts with, else
    * null (`EMPTY` forms included: they have no coordinate list). */
  private def kind(wkt: String): String = {
    val m = KindP.matcher(GeomConstruct.stripCrs(wkt))
    if (m.find()) m.group(1) else null
  }

  /** The constant side: a POLYGON/MULTIPOLYGON's even-odd region,
    * prepared for repeated evaluation. */
  final class ConstPoly(region: Geometry) {
    private val prepared = RelateNG.prepare(region)

    /** `relation(row, region)`. RelateNG evaluates
      * `predicate(region, row)`, so `within` is asked as contains. */
    def holds(relation: String, row: Geometry): Boolean =
      prepared.evaluate(row, predicate(relation))
  }

  /** A fresh predicate per evaluation: they accumulate state. */
  private def predicate(relation: String): TopologyPredicate =
    relation match {
      case "within" => RelatePredicate.contains()
      case "intersects" => RelatePredicate.intersects()
      case "disjoint" => RelatePredicate.disjoint()
      case "touches" => RelatePredicate.touches()
      case "overlaps" => RelatePredicate.overlaps()
      case "equals" => RelatePredicate.equalsTopo()
      case "crosses" => RelatePredicate.crosses()
    }

  /** Read + prepare the constant side; null when not a
    * (MULTI)POLYGON or coordinates fail. Ring closure is NOT enforced
    * here (unclosed rings are closed); the FILTER-literal builders
    * validate closure loudly on the driver before constructing the
    * expression. */
  def constPoly(wkt: String): ConstPoly = {
    val k = kind(wkt)
    if (k != "POLYGON" && k != "MULTIPOLYGON") return null
    val g = GeomConstruct.read(wkt)
    if (g == null) null else new ConstPoly(g)
  }

  /** Full relation dispatch. Returns null on coordinate-parse poison
    * (except disjoint, where unparseable is false — "neither"). */
  def relate(relation: String, g: String, cp: ConstPoly): java.lang.Boolean = {
    val k = kind(g)
    val applies = relation match {
      case "within" => k == "POINT"
      case "equals" | "overlaps" => k == "POLYGON" || k == "MULTIPOLYGON"
      case "crosses" => k == "LINESTRING" || k == "MULTILINESTRING"
      case _ => k != null
    }
    if (!applies) return if (relation == "within") null else java.lang.Boolean.FALSE
    val geom = GeomConstruct.read(g)
    if (geom != null) java.lang.Boolean.valueOf(cp.holds(relation, geom))
    else if (relation == "disjoint") java.lang.Boolean.FALSE
    else null
  }

  val builder: Seq[Expression] => Expression = { args =>
    require(args.length == 3,
      s"graft_sf_relate takes (relation, geomWkt, otherWkt); got ${args.length}")
    SfRelate(args(0), args(1), args(2))
  }
}

/** The kernel of `graft_wkt_bbox(wkt)` →
  * `struct<minx,miny,maxx,maxy:double>` — the bounding box of any WKT
  * geometry's coordinates; null for unparseable/empty input. The
  * grid-cover key extractor behind [[SpatialRelateJoinRewrite]]: a
  * geometry's cell cover is the cross product of the floored bbox
  * ranges. */
object WktBbox {
  import org.apache.spark.sql.types.StructType
  import org.apache.spark.sql.types.StructField

  val schema: StructType = StructType(Seq(
    StructField("minx", DoubleType, nullable = false),
    StructField("miny", DoubleType, nullable = false),
    StructField("maxx", DoubleType, nullable = false),
    StructField("maxy", DoubleType, nullable = false)))

  def compute(wkt: UTF8String): org.apache.spark.sql.catalyst.InternalRow = {
    val g = GeomConstruct.parse(wkt.toString)
    if (g == null || g.isEmpty) return null
    val e = g.getEnvelopeInternal
    new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](e.getMinX, e.getMinY, e.getMaxX, e.getMaxY))
  }
}
