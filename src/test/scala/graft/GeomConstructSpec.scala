package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.plans.{GeomConstruct, SfRelate}

/** Constructive-geometry expression layer (GeoSPARQL §8.7
  * non-topological functions): canonical serialization, OGC boundary
  * rules, the even-odd ring algebra's exactness on membership parity,
  * and the band-decomposition overlay's exactness on concave×concave
  * operands (r13 — the r12 convexity bound is gone). */
class GeomConstructSpec extends AnyFunSuite with SparkTestBase {

  private def c(op: String, wkt: String): String = {
    val r = GeomConstruct.compute(op, wkt)
    if (r == null) null else r.toString
  }
  private def o(op: String, a: String, b: String): String = {
    val r = GeomConstruct.computeOverlay(op, a, b)
    if (r == null) null else r.toString
  }
  /** Even-odd membership of a point in a serialized ring set — the same
    * native machinery the relation pack serves ("POLYGON EMPTY" parses
    * to no region = false everywhere). */
  private def member(px: Double, py: Double, wkt: String): Boolean = {
    val cp = SfRelate.constPoly(wkt)
    cp != null && SfRelate.relate("within", s"POINT($px $py)", cp) == true
  }

  test("envelope: box, degenerate line, degenerate point; integral " +
      "coordinates print as integers") {
    assert(c("envelope", "LINESTRING(10 20, 14 22, 11 25)") ==
      "POLYGON((10 20, 14 20, 14 25, 10 25, 10 20))")
    assert(c("envelope", "LINESTRING(3 7, 9 7)") == "LINESTRING(3 7, 9 7)")
    assert(c("envelope", "POINT(2.5 -3)") == "POINT(2.5 -3)")
    assert(c("envelope", "MULTIPOINT(1 1, 4 9, 2 0)") ==
      "POLYGON((1 0, 4 0, 4 9, 1 9, 1 0))")
    assert(c("envelope", "garbage") == null)
  }

  test("boundary: polygon rings as canonical curves, curve mod-2 " +
      "endpoints, empty set for points") {
    // holed square: both rings, CCW, rotated to min vertex, sorted
    assert(c("boundary", "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(2 2, 8 2, 8 8, 2 8, 2 2))") ==
      "MULTILINESTRING((0 0, 10 0, 10 10, 0 10, 0 0), " +
        "(2 2, 8 2, 8 8, 2 8, 2 2))")
    // a CW-written ring canonicalizes to the same CCW curve
    assert(c("boundary", "POLYGON((0 0, 0 10, 10 10, 10 0, 0 0))") ==
      "LINESTRING(0 0, 10 0, 10 10, 0 10, 0 0)")
    assert(c("boundary", "LINESTRING(5 3, 8 4, 10 3)") ==
      "MULTIPOINT(5 3, 10 3)")
    // closed curve: every endpoint has even multiplicity
    assert(c("boundary", "LINESTRING(0 0, 1 0, 1 1, 0 0)") ==
      "MULTIPOINT EMPTY")
    // two segments sharing one endpoint: the shared one cancels mod 2
    assert(c("boundary", "MULTILINESTRING((0 0, 5 5), (5 5, 9 0))") ==
      "MULTIPOINT(0 0, 9 0)")
    assert(c("boundary", "POINT(1 2)") == "GEOMETRYCOLLECTION EMPTY")
  }

  test("convex hull: monotone chain, canonical CCW from the min vertex; " +
      "degenerate collinear and single-point forms") {
    // diamond + interior point: hull is the diamond from min vertex
    assert(c("convex_hull", "MULTIPOINT(2 0, 4 2, 2 4, 0 2, 2 2)") ==
      "POLYGON((0 2, 2 0, 4 2, 2 4, 0 2))")
    assert(c("convex_hull", "LINESTRING(0 0, 2 2, 4 4)") ==
      "LINESTRING(0 0, 4 4)")
    assert(c("convex_hull", "MULTIPOINT(3 1, 3 1)") == "POINT(3 1)")
    // polygon input: hull of a concave L is its bounding pentagon
    assert(c("convex_hull", "POLYGON((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))")
      == "POLYGON((0 0, 4 0, 4 2, 2 4, 0 4, 0 0))")
  }

  test("getSRID: embedded crs prefix else the CRS84 default") {
    assert(c("srid", "POINT(1 2)") == GeomConstruct.DefaultCrs)
    assert(c("srid",
      "<http://www.opengis.net/def/crs/EPSG/0/4283> POINT(1 2)") ==
      "http://www.opengis.net/def/crs/EPSG/0/4283")
  }

  test("intersection: rectangle pairs clip to the canonical min/max " +
      "rectangle; touch-only and disjoint pairs are empty") {
    val b = "POLYGON((10 4, 18 4, 18 9, 10 9, 10 4))"
    assert(o("intersection", "POLYGON((8 2, 14 2, 14 8, 8 8, 8 2))", b) ==
      "POLYGON((10 4, 14 4, 14 8, 10 8, 10 4))")
    // touching along x=10: zero-area ring drops to the empty region
    assert(o("intersection", "POLYGON((4 2, 10 2, 10 8, 4 8, 4 2))", b) ==
      "POLYGON EMPTY")
    assert(o("intersection", "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))", b) ==
      "POLYGON EMPTY")
    // subject fully inside the clip: unchanged (canonicalized)
    assert(o("intersection", "POLYGON((11 5, 13 5, 13 7, 11 7, 11 5))", b)
      == "POLYGON((11 5, 13 5, 13 7, 11 7, 11 5))")
  }

  test("ring algebra: duplicate rings cancel in pairs — difference and " +
      "symDifference of a region with itself are empty") {
    val a = "POLYGON((1 1, 5 1, 5 5, 1 5, 1 1))"
    assert(o("sym_difference", a, a) == "POLYGON EMPTY")
    assert(o("difference", a, a) == "POLYGON EMPTY")
  }

  test("intersection is exact for a CONCAVE subject against a convex " +
      "clip: membership parity on an off-lattice probe grid") {
    val lShape = "POLYGON((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
    val clip = "POLYGON((1 1, 3 1, 3 3, 1 3, 1 1))"
    val ix = o("intersection", lShape, clip)
    assert(ix != null)
    for (i <- -1 to 9; j <- -1 to 9) {
      val px = i + 0.5; val py = j + 0.5
      val expected = member(px, py, lShape) && member(px, py, clip)
      assert(member(px, py, ix) == expected,
        s"parity at ($px, $py): got ${member(px, py, ix)}, " +
          s"want $expected, ix=$ix")
    }
  }

  test("r13: concave×concave overlay is exact via band decomposition " +
      "(the r12 null bound is gone)") {
    val lShape = "POLYGON((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))"
    // idempotence: L ∩ L is the L region (a tiling of it) — parity and
    // area both match the operand everywhere
    val self = o("intersection", lShape, lShape)
    assert(self != null && m("area", self) == 12.0)
    for (i <- -1 to 9; j <- -1 to 9) {
      val px = i + 0.5; val py = j + 0.5
      assert(member(px, py, self) == member(px, py, lShape),
        s"($px,$py) self=$self")
    }
    // symDifference stays exact (and empty) on identical operands
    assert(o("sym_difference", lShape, lShape) == "POLYGON EMPTY")
    // two concave interlocking shapes: L and its 180°-rotated twin
    // shifted to overlap; closed-form overlap area by cell count
    val lRot = "POLYGON((1 1, 5 1, 5 5, 3 5, 3 3, 1 3, 1 1))"
    val ix = o("intersection", lShape, lRot)
    assert(ix != null)
    for (i <- -1 to 11; j <- -1 to 11) {
      val px = i + 0.5; val py = j + 0.5
      val want = member(px, py, lShape) && member(px, py, lRot)
      assert(member(px, py, ix) == want, s"($px,$py) ix=$ix")
    }
    // area parity: |A∩B| + |A∖B| = |A|; |A∪B| = |A|+|B|−|A∩B|
    val ia = m("area", ix)
    assert(ia != null)
    assert(math.abs(m("area", o("difference", lShape, lRot)) +
      ia - 12.0) < 1e-9)
    assert(math.abs(m("area", o("union", lShape, lRot)) -
      (12.0 + 12.0 - ia)) < 1e-9)
    assert(math.abs(m("area", o("sym_difference", lShape, lRot)) -
      (12.0 + 12.0 - 2 * ia)) < 1e-9)
  }

  test("r13: overlay outputs with crossing rings re-derive through the " +
      "decomposition — measures are correct (ADVICE r12)") {
    // two overlapping unit-offset squares: symDifference used to emit
    // the two crossing rings verbatim, and area() silently returned
    // area(a)−area(b) terms; now the XOR region tiles exactly
    val a = "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"
    val b = "POLYGON((1 1, 3 1, 3 3, 1 3, 1 1))"
    val sd = o("sym_difference", a, b)
    assert(m("area", sd) == 6.0) // 4 + 4 − 2·1
    for (i <- -1 to 7; j <- -1 to 7) {
      val px = i / 2.0 + 0.25; val py = j / 2.0 + 0.25
      assert(member(px, py, sd) == (member(px, py, a) ^ member(px, py, b)),
        s"($px,$py) sd=$sd")
    }
    // union of the same pair: 7; difference: 3
    assert(m("area", o("union", a, b)) == 7.0)
    assert(m("area", o("difference", a, b)) == 3.0)
    // centroid of a tiled output (every cell corner on a sibling):
    // ringAlgebra's centroid-sample fallback, not None
    assert(c("centroid", o("difference", a,
      "POLYGON((0 0, 2 0, 2 1, 0 1, 0 0))")) == "POINT(1 1.5)")
  }

  test("r13: POLYGON EMPTY composes through overlays (ADVICE r12)") {
    val a = "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))"
    val far = "POLYGON((10 10, 12 10, 12 12, 10 12, 10 10))"
    val e = o("intersection", a, far)
    assert(e == "POLYGON EMPTY")
    // chained: intersection(intersection(a,b),c) stays empty, not null
    assert(o("intersection", e, a) == "POLYGON EMPTY")
    assert(o("union", e, a) == a)
    assert(o("difference", a, e) == a)
    assert(o("sym_difference", e, e) == "POLYGON EMPTY")
  }

  test("property: union/difference/symDifference membership parity " +
      "matches Boolean interval logic on random integer rectangles") {
    val rnd = new scala.util.Random(17)
    def rect(): (Int, Int, Int, Int) = {
      val x = rnd.nextInt(12); val y = rnd.nextInt(12)
      (x, y, x + 1 + rnd.nextInt(8), y + 1 + rnd.nextInt(8))
    }
    def wkt(r: (Int, Int, Int, Int)): String = {
      val (x1, y1, x2, y2) = r
      s"POLYGON(($x1 $y1, $x2 $y1, $x2 $y2, $x1 $y2, $x1 $y1))"
    }
    def in(px: Double, py: Double, r: (Int, Int, Int, Int)): Boolean =
      px > r._1 && px < r._3 && py > r._2 && py < r._4
    for (_ <- 1 to 120) {
      val a = rect(); val b = rect()
      val u = o("union", wkt(a), wkt(b))
      val d = o("difference", wkt(a), wkt(b))
      val sd = o("sym_difference", wkt(a), wkt(b))
      assert(u != null && d != null && sd != null)
      for (_ <- 1 to 8) {
        val px = rnd.nextInt(22) + 0.5; val py = rnd.nextInt(22) + 0.5
        val ia = in(px, py, a); val ib = in(px, py, b)
        assert(member(px, py, u) == (ia || ib), s"union $a $b ($px,$py)")
        assert(member(px, py, d) == (ia && !ib), s"diff $a $b ($px,$py)")
        assert(member(px, py, sd) == (ia ^ ib), s"sym $a $b ($px,$py)")
      }
    }
  }

  private def m(op: String, wkt: String): java.lang.Double =
    GeomConstruct.computeMeasure(op, wkt)

  test("area: even-odd exact for holes, islands, and the empty region; " +
      "0 for points and curves") {
    assert(m("area", "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(2 2, 8 2, 8 8, 2 8, 2 2))") == 64.0)
    assert(m("area", "MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0))," +
      "((5 5, 8 5, 8 8, 5 8, 5 5)))") == 13.0)
    // island INSIDE a hole: 100 − 36 + 1 (depth parities +, −, +);
    // the island ring carries a duplicate vertex the cleaner drops
    assert(m("area", "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(2 2, 8 2, 8 8, 2 8, 2 2)," +
      "(4.5 4.5, 5.5 4.5, 5.5 5.5, 4.5 5.5, 4.5 5.5, 4.5 4.5))") == 65.0)
    assert(m("area", "POLYGON EMPTY") == 0.0)
    assert(m("area", "LINESTRING(0 0, 5 5)") == 0.0)
    assert(m("area", "POINT(1 1)") == 0.0)
    assert(m("area", "junk") == null)
    // ring lists JTS reads as INVALID still relate and measure by the
    // even-odd rule. Each region is a union of unit cells, so the
    // membership oracle decides point-within, and a probe square
    // straddling the grid line x = i in row j intersects the region iff
    // either neighbouring cell is in it, and overlaps it iff exactly one
    // is (both as the row and as the constant operand)
    def sq(x1: Int, y1: Int, x2: Int, y2: Int): String =
      s"POLYGON(($x1 $y1, $x2 $y1, $x2 $y2, $x1 $y2, $x1 $y1))"
    def rel(r: String, g: String, p: String): Boolean =
      SfRelate.relate(r, g, SfRelate.constPoly(p)) == true
    val (a, b) = (sq(0, 0, 2, 2), sq(1, 1, 3, 3))
    val (outer, hole) = (sq(0, 0, 10, 10), sq(2, 2, 8, 8))
    val invalid: Seq[(String, (Double, Double) => Boolean, Double)] = Seq(
      // the crossing-ring list sym_difference(a, b) once emitted
      ("POLYGON((0 0, 2 0, 2 2, 0 2, 0 0),(1 1, 3 1, 3 3, 1 3, 1 1))",
        (x, y) => member(x, y, a) ^ member(x, y, b), 6.0),
      // a hole listed before its shell
      ("POLYGON((2 2, 8 2, 8 8, 2 8, 2 2),(0 0, 10 0, 10 10, 0 10, 0 0))",
        (x, y) => member(x, y, outer) && !member(x, y, hole), 64.0),
      // two MULTIPOLYGON parts sharing the edge x = 2
      ("MULTIPOLYGON(((0 0, 2 0, 2 2, 0 2, 0 0)),((2 0, 4 0, 4 2, 2 2, 2 0)))",
        (x, y) => member(x, y, sq(0, 0, 4, 2)), 8.0),
      // a pair of duplicate rings cancels, leaving the third
      ("POLYGON((0 0, 4 0, 4 4, 0 4, 0 0),(0 0, 4 0, 4 4, 0 4, 0 0)," +
        "(1 1, 3 1, 3 3, 1 3, 1 1))",
        (x, y) => member(x, y, sq(1, 1, 3, 3)), 4.0),
      // one self-crossing ring: a figure eight crossing itself at (1, 1)
      ("POLYGON((0 0, 1 0, 1 2, 2 2, 2 1, 0 1, 0 0))",
        (x, y) => member(x, y, sq(0, 0, 1, 1)) || member(x, y, sq(1, 1, 2, 2)),
        2.0))
    for ((wkt, want, area) <- invalid) {
      assert(m("area", wkt) == area, wkt)
      for (i <- -1 to 11; j <- -1 to 10) {
        val (l, r) = (want(i - 0.5, j + 0.5), want(i + 0.5, j + 0.5))
        assert(member(i + 0.5, j + 0.5, wkt) == r, s"within ($i,$j) $wkt")
        val (x1, x2, y1, y2) = (i - 0.25, i + 0.25, j + 0.25, j + 0.75)
        val probe =
          s"POLYGON(($x1 $y1, $x2 $y1, $x2 $y2, $x1 $y2, $x1 $y1))"
        for ((g, p) <- Seq((probe, wkt), (wkt, probe))) {
          assert(rel("intersects", g, p) == (l || r), s"intersects $g $p")
          assert(rel("overlaps", g, p) == (l != r), s"overlaps $g $p")
        }
      }
    }
  }

  test("length: curve length, polygon boundary length (holes count)") {
    assert(m("length", "LINESTRING(0 0, 3 4, 6 0)") == 10.0)
    assert(m("length", "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(2 2, 8 2, 8 8, 2 8, 2 2))") == 64.0)
    assert(m("length", "MULTILINESTRING((0 0, 3 4), (10 10, 13 14))") ==
      10.0)
    assert(m("length", "POINT(1 1)") == 0.0)
    assert(m("length", "MULTIPOINT EMPTY") == 0.0)
  }

  test("centroid: concentric hole keeps the center exactly; empty " +
      "region is POINT EMPTY; composes with the overlay output") {
    assert(c("centroid", "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(3 3, 7 3, 7 7, 3 7, 3 3))") == "POINT(5 5)")
    assert(c("centroid", "POLYGON((0 0, 4 0, 4 2, 0 2, 0 0))") ==
      "POINT(2 1)")
    assert(c("centroid", "POLYGON EMPTY") == "POINT EMPTY")
    // area(intersection) composition: 6×6 ∩ 8×5 clip = 4×2 rectangle
    val ix = o("intersection", "POLYGON((8 2, 14 2, 14 8, 8 8, 8 2))",
      "POLYGON((10 4, 18 4, 18 9, 10 9, 10 4))")
    assert(m("area", ix) == 16.0)
    assert(c("centroid", ix) == "POINT(12 6)")
    // empty intersection measures 0 — no null guard needed downstream
    assert(m("area", o("intersection",
      "POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))",
      "POLYGON((10 4, 18 4, 18 9, 10 9, 10 4))")) == 0.0)
  }

  test("property: random rectilinear CONCAVE subjects clipped by random " +
      "convex rectangles keep membership parity everywhere") {
    val rnd = new scala.util.Random(41)
    // random staircase (rectilinear, simple, concave) polygon: walk
    // right along a random upper profile, return left along y=0
    def staircase(): String = {
      val steps = 3 + rnd.nextInt(4)
      val xs = (0 to steps).scanLeft(0)((a, _) => a + 1 + rnd.nextInt(3))
        .tail
      val sb = new StringBuilder("POLYGON((0 0")
      var px = 0
      xs.foreach { x =>
        val h = 1 + rnd.nextInt(8)
        sb.append(s", $px $h, $x $h") // up/down to h, right to x
        px = x
      }
      sb.append(s", $px 0, 0 0))")
      sb.toString
    }
    for (_ <- 1 to 60) {
      val subj = staircase()
      val cx = rnd.nextInt(10); val cy = rnd.nextInt(6)
      val cw = 1 + rnd.nextInt(10); val ch = 1 + rnd.nextInt(8)
      val clip = s"POLYGON(($cx $cy, ${cx + cw} $cy, " +
        s"${cx + cw} ${cy + ch}, $cx ${cy + ch}, $cx $cy))"
      val ix = o("intersection", subj, clip)
      assert(ix != null, s"$subj x $clip")
      for (i <- -1 to 20; j <- -1 to 10) {
        val px = i + 0.5; val py = j + 0.5
        val want = member(px, py, subj) && member(px, py, clip)
        assert(member(px, py, ix) == want,
          s"($px,$py) subj=$subj clip=$clip ix=$ix")
      }
    }
  }

  private def buf(wkt: String, r: Double): String = {
    val b = GeomConstruct.computeBuffer(wkt, r)
    if (b == null) null else b.toString
  }

  test("r13 buffer: point dilates to the inscribed Pythagorean 20-gon " +
      "with exact integer vertices at radius 25") {
    val d = buf("POINT(100 100)", 25)
    // all 20 fan vertices are integer (3-4-5 / 7-24-25 triples · 25)
    assert(d != null && !d.contains("."), d)
    assert(m("area", d) == 386.0 / 125 * 625) // 386/125 · r² = 1930
    // membership: strictly inside the fan vs outside the disk
    assert(member(100, 100, d) && member(110, 110, d)) // d≈14.1 < 24.6
    assert(!member(126, 100, d) && !member(118, 118, d)) // 26, 25.46 out
    // r = 0; negative r erodes — curves and points erode to empty
    assert(buf("POINT(1 2)", 0) == "POLYGON EMPTY")
    assert(buf("POINT(1 2)", -1) == "POLYGON EMPTY")
    assert(buf("LINESTRING(0 0, 4 0)", -1) == "POLYGON EMPTY")
    assert(buf("POLYGON EMPTY", 3) == "POLYGON EMPTY")
  }

  test("r13 buffer: negative radius erodes — exact inward offset for " +
      "convex regions, anti-fan slivers at concave (hole) corners") {
    val box = "POLYGON((0 0, 6 0, 6 6, 0 6, 0 0))"
    // convex erosion is governed by the (exact) edge strips alone:
    // 6×6 ⊖ 1 = the 4×4 inner box
    assert(math.abs(m("area", buf(box, -1.0)) - 16.0) < 1e-9)
    val e = buf(box, -1.0)
    assert(member(3, 3, e) && !member(1.5, 0.8, e) && !member(0.5, 3, e))
    // over-erosion: radius past the inradius empties the region
    assert(m("area", buf(box, -3.0)) == 0.0)
    // holed square ⊖ 1: outer erodes to [1,9]², the hole dilates to
    // its 1-offset with INSCRIBED corner fans — only the four corner
    // anti-fan slivers (1 − 193/250 each) survive
    val holed = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(2 2, 8 2, 8 8, 2 8, 2 2))"
    assert(math.abs(m("area", buf(holed, -1.0)) -
      4 * (1 - 193.0 / 250)) < 1e-9)
  }

  test("r13 buffer: box dilation area has the closed form " +
      "w·h + 2r(w+h) + (386/125)r²; holes shrink correctly") {
    val box = "POLYGON((0 0, 6 0, 6 6, 0 6, 0 0))"
    for (r <- Seq(0.5, 1.0, 1.5)) {
      val a = m("area", buf(box, r))
      val want = 36.0 + 2 * r * 12 + 386.0 / 125 * r * r
      assert(math.abs(a - want) < 1e-9, s"r=$r got $a want $want")
    }
    // holed square, r=1: the outer boundary dilates to the 12×12 box
    // minus four convex-corner deficits (1 − quarter-fan = 1 − 193/250
    // each); the hole rim dilates INTO the hole, eroding the 6×6 hole
    // to exactly 4×4 (inward offset of a convex hole has no corner
    // rounding — the corner fans lie inside the edge strips)
    val holed = "POLYGON((0 0, 10 0, 10 10, 0 10, 0 0)," +
      "(2 2, 8 2, 8 8, 2 8, 2 2))"
    val a = m("area", buf(holed, 1.0))
    val want2 = 144.0 - 4 * (1 - 193.0 / 250) - 16.0
    assert(math.abs(a - want2) < 1e-9, s"got $a want $want2")
    // buffered region contains the original and its near-rim exterior
    val d = buf(box, 1.0)
    assert(member(3, 3, d) && member(-0.5, 3, d) && member(6.5, 6.5, d))
    assert(!member(7.2, 7.2, d)) // corner diag: d≈1.697 > 1
  }

  test("r13 buffer: polyline sweep matches exact point-to-segment " +
      "distance outside the approximation band") {
    val road = "LINESTRING(5 2, 15 2, 15 10, 30 10)"
    val r = 3.5
    val d = buf(road, r)
    assert(d != null)
    // exact point-to-polyline distance
    def segDist(px: Double, py: Double, x1: Double, y1: Double,
        x2: Double, y2: Double): Double = {
      val dx = x2 - x1; val dy = y2 - y1
      val t = math.max(0.0, math.min(1.0,
        ((px - x1) * dx + (py - y1) * dy) / (dx * dx + dy * dy)))
      math.hypot(px - (x1 + t * dx), py - (y1 + t * dy))
    }
    def dist(px: Double, py: Double): Double =
      Seq((5d, 2d, 15d, 2d), (15d, 2d, 15d, 10d), (15d, 10d, 30d, 10d))
        .map { case (a, b, c, e) => segDist(px, py, a, b, c, e) }.min
    // integer lattice: distances are integers (axis-aligned interiors)
    // or √(a²+b²) (endpoints); no lattice distance falls in the
    // inscribed band (r·cos(10.31°), r] = (3.4437, 3.5] since 12 is
    // not a sum of two squares — every probe is unambiguous
    for (i <- 0 to 34; j <- -3 to 15) {
      val e = dist(i, j)
      assert(e < 3.4437 || e > 3.5, s"fixture broke band at ($i,$j): $e")
      assert(member(i, j, d) == (e < r), s"($i,$j) d=$e")
    }
  }

  test("r13 property: random CONCAVE × CONCAVE staircase overlays keep " +
      "membership parity and the area identities everywhere") {
    val rnd = new scala.util.Random(97)
    def staircase(x0: Int, y0: Int): String = {
      val steps = 3 + rnd.nextInt(3)
      val xs = (0 to steps).scanLeft(x0)((a, _) => a + 1 + rnd.nextInt(3))
        .tail
      val sb = new StringBuilder(s"POLYGON(($x0 $y0")
      var px = x0
      xs.foreach { x =>
        val h = y0 + 1 + rnd.nextInt(7)
        sb.append(s", $px $h, $x $h")
        px = x
      }
      sb.append(s", $px $y0, $x0 $y0))")
      sb.toString
    }
    for (_ <- 1 to 40) {
      val a = staircase(rnd.nextInt(6), rnd.nextInt(4))
      val b = staircase(rnd.nextInt(6), rnd.nextInt(4))
      val ix = o("intersection", a, b)
      val un = o("union", a, b)
      val df = o("difference", a, b)
      val sd = o("sym_difference", a, b)
      assert(ix != null && un != null && df != null && sd != null,
        s"$a x $b")
      // membership parity on the off-lattice grid — both operands
      // concave, so every op takes the decomposition path
      for (i <- -1 to 20; j <- -1 to 12) {
        val px = i + 0.5; val py = j + 0.5
        val ia = member(px, py, a); val ib = member(px, py, b)
        assert(member(px, py, ix) == (ia && ib), s"ix ($px,$py) $a $b")
        assert(member(px, py, un) == (ia || ib), s"un ($px,$py) $a $b")
        assert(member(px, py, df) == (ia && !ib), s"df ($px,$py) $a $b")
        assert(member(px, py, sd) == (ia ^ ib), s"sd ($px,$py) $a $b")
      }
      // area identities over the measure pass (exercises the tiled-
      // output centroid-sample sign fallback on every output)
      val (ma, mb) = (m("area", a), m("area", b))
      val (mi, mu, md, ms) = (m("area", ix), m("area", un),
        m("area", df), m("area", sd))
      assert(Seq(mi, mu, md, ms).forall(_ != null), s"$a x $b")
      assert(math.abs(mu - (ma + mb - mi)) < 1e-9, s"|A∪B| $a $b")
      assert(math.abs(md - (ma - mi)) < 1e-9, s"|A∖B| $a $b")
      assert(math.abs(ms - (ma + mb - 2 * mi)) < 1e-9, s"|A⊕B| $a $b")
    }
  }

  test("r13 property: random staircase dilation AND erosion match exact " +
      "boundary distance at r = 3.5 (band-safe for any integer " +
      "rectilinear fixture)") {
    // r = 3.5 keeps every integer-lattice distance to an integer
    // axis-aligned boundary out of the inscribed-fan ambiguity band
    // (r·cos 10.31°, r] = (3.4437, 3.5]: interior distances are
    // integers; vertex distances are √(a²+b²) and 12 is not a sum of
    // two squares — fixture-independent for this shape class)
    val rnd = new scala.util.Random(131)
    val r = 3.5
    def segDist(px: Double, py: Double, x1: Double, y1: Double,
        x2: Double, y2: Double): Double = {
      val dx = x2 - x1; val dy = y2 - y1
      val t = math.max(0.0, math.min(1.0,
        ((px - x1) * dx + (py - y1) * dy) / (dx * dx + dy * dy)))
      math.hypot(px - (x1 + t * dx), py - (y1 + t * dy))
    }
    for (_ <- 1 to 25) {
      val steps = 3 + rnd.nextInt(3)
      val xs = (0 to steps).scanLeft(0)((a, _) => a + 2 + rnd.nextInt(4))
        .tail
      val verts = scala.collection.mutable.ArrayBuffer[(Int, Int)]((0, 0))
      var px = 0
      xs.foreach { x =>
        val h = 2 + rnd.nextInt(9)
        verts += ((px, h)); verts += ((x, h))
        px = x
      }
      verts += ((px, 0))
      val ring = verts :+ verts.head
      val poly = "POLYGON((" +
        ring.map { case (x, y) => s"$x $y" }.mkString(", ") + "))"
      val segs = ring.sliding(2).map(p =>
        (p(0)._1.toDouble, p(0)._2.toDouble,
          p(1)._1.toDouble, p(1)._2.toDouble)).toSeq
      def bd(qx: Double, qy: Double): Double =
        segs.map { case (a, b, c, d) => segDist(qx, qy, a, b, c, d) }.min
      val dil = buf(poly, r)
      val ero = buf(poly, -r)
      assert(dil != null && ero != null, poly)
      for (i <- -4 to 24; j <- -4 to 14) {
        val qx = i.toDouble; val qy = j.toDouble
        val inP = member(qx, qy, poly)
        val d = bd(qx, qy)
        if (d != 0.0) { // boundary lattice points are their own class
          assert(member(qx, qy, dil) == (inP || d < r),
            s"dil ($qx,$qy) d=$d in=$inP $poly")
          assert(member(qx, qy, ero) == (inP && d > r),
            s"ero ($qx,$qy) d=$d in=$inP $poly")
        }
      }
    }
  }

  private def bufM(wkt: String, rM: Double): String = {
    val b = GeomConstruct.computeBufferMetres(wkt, rM)
    if (b == null) null else b.toString
  }

  test("r14 property: buffer is MONOTONE in the radius — memberships " +
      "nest and areas are monotone for dilation and erosion (degree " +
      "and metre forms)") {
    // structural, band-independent: the edge strips and vertex fans at
    // a larger radius contain the smaller radius' pieces outright (same
    // directions, same anchors, strictly larger extents), so the
    // arrangement union nests — even boundary points of the smaller
    // buffer are interior to the larger one
    val rnd = new scala.util.Random(211)
    for (_ <- 1 to 12) {
      val steps = 3 + rnd.nextInt(3)
      val xs = (0 to steps).scanLeft(0)((a, _) => a + 2 + rnd.nextInt(4))
        .tail
      val verts = scala.collection.mutable.ArrayBuffer[(Int, Int)]((0, 0))
      var px = 0
      xs.foreach { x =>
        val h = 2 + rnd.nextInt(9)
        verts += ((px, h)); verts += ((x, h))
        px = x
      }
      verts += ((px, 0))
      val ring = verts :+ verts.head
      val poly = "POLYGON((" +
        ring.map { case (x, y) => s"$x $y" }.mkString(", ") + "))"
      val radii = Seq(0.75, 1.75, 2.75, 3.75)
      val dils = radii.map(r => buf(poly, r))
      val eros = radii.map(r => buf(poly, -r))
      assert(dils.forall(_ != null) && eros.forall(_ != null), poly)
      val dAreas = dils.map(d => m("area", d))
      assert(dAreas.zip(dAreas.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"dilation area monotone $poly: $dAreas")
      val eAreas = eros.map(e => m("area", e)) // over-eroded → EMPTY → 0
      assert(eAreas.zip(eAreas.tail).forall { case (a, b) => b <= a + 1e-9 },
        s"erosion area antitone $poly: $eAreas")
      for (i <- -4 to 24; j <- -4 to 14) {
        val qx = i + 0.5; val qy = j + 0.5
        val ds = dils.map(d => member(qx, qy, d))
        assert(ds.zip(ds.tail).forall { case (a, b) => !a || b },
          s"dilation nesting ($qx,$qy) $poly")
        val es = eros.map(e => member(qx, qy, e))
        assert(es.zip(es.tail).forall { case (a, b) => !b || a },
          s"erosion nesting ($qx,$qy) $poly")
      }
      // metre form: same fixed projection for every radius (phi0 is a
      // function of the input alone) → same monotonicity
      val rM0 = GeomConstruct.MetresPerDegree
      val mAreas = Seq(0.75, 1.75, 2.75).map(f =>
        m("area", bufM(poly, f * rM0)))
      assert(mAreas.zip(mAreas.tail).forall { case (a, b) => b >= a - 1e-9 },
        s"metre dilation area monotone $poly: $mAreas")
    }
  }

  test("r14 metre buffer: equator point = the degree buffer of the " +
      "converted radius; latitude widens the fan by 1/cos phi in lon") {
    val rM = 2.0 * GeomConstruct.MetresPerDegree // exactly 2 degrees of arc
    // at the equator cos(0) = 1: the metre form IS the degree form
    assert(bufM("POINT(10 0)", rM) == buf("POINT(10 0)", 2.0))
    // at latitude 60 the lon scale is cos60 = 0.5: the fan's lon extent
    // doubles while its lat extent stays 2 — check via membership
    val d60 = bufM("POINT(10 60)", rM)
    assert(member(13.5, 60, d60)) // 3.5 deg lon ≈ 1.75 arc-deg < 2·cos9°
    assert(!member(10, 62.5, d60)) // 2.5 deg lat: outside
    assert(!member(14.5, 60, d60)) // 4.5 deg lon ≈ 2.25 arc-deg: outside
    // erosion and empties behave like the degree form
    assert(bufM("POINT(1 2)", -1.0) == "POLYGON EMPTY")
    assert(bufM("POLYGON EMPTY", 5.0) == "POLYGON EMPTY")
    assert(bufM("nope", 5.0) == null)
    // area scales by exactly 1/cos phi vs the same-radius equator fan
    // (the inverse lon unscale is a pure x-stretch of the 20-gon)
    val a0 = m("area", bufM("POINT(0 0)", rM))
    val a60 = m("area", bufM("POINT(0 60)", rM))
    assert(math.abs(a60 * Math.cos(Math.toRadians(60)) - a0) < 1e-6,
      s"$a0 vs $a60")
  }

  test("r14 metre buffer: SPARQL geof:buffer dispatches uom:metre and " +
      "keeps uom:degree; unknown units reject loudly") {
    import spark.implicits._
    val quads = Seq(
      ("urn:s", "iri", "http://www.opengis.net/ont/geosparql#asWKT",
        "POINT(10 0)", "literal",
        "http://www.opengis.net/ont/geosparql#wktLiteral", null, "urn:g"))
      .toDF("subject", "subjectKind", "predicate", "objectValue",
        "objectKind", "datatype", "lang", "graph")
    val rM = 2.0 * GeomConstruct.MetresPerDegree
    val got = graft.rdf.SparqlParser.execute(quads,
      s"""PREFIX geo: <http://www.opengis.net/ont/geosparql#>
         |PREFIX geof: <http://www.opengis.net/def/function/geosparql/>
         |PREFIX uom: <http://www.opengis.net/def/uom/OGC/1.0/>
         |SELECT ?bm ?bd WHERE {
         |  ?s geo:asWKT ?w .
         |  BIND(geof:buffer(?w, $rM, uom:metre) AS ?bm)
         |  BIND(geof:buffer(?w, 2.0, uom:degree) AS ?bd)
         |}""".stripMargin).collect().head
    assert(got.getString(0) == got.getString(1)) // equator: identical
    val e = intercept[Exception] {
      graft.rdf.SparqlParser.execute(quads,
        """PREFIX geo: <http://www.opengis.net/ont/geosparql#>
          |PREFIX geof: <http://www.opengis.net/def/function/geosparql/>
          |PREFIX uom: <http://www.opengis.net/def/uom/OGC/1.0/>
          |SELECT ?b WHERE { ?s geo:asWKT ?w .
          |  BIND(geof:buffer(?w, 1.0, uom:radian) AS ?b) }""".stripMargin)
        .collect()
    }
    assert(e.getMessage.contains("geof:buffer units"))
  }

  test("SQL surface: the graft_st_* functions register and run inside " +
      "whole-stage codegen") {
    val row = spark.sql(
      """SELECT
        |  graft_st_envelope('LINESTRING(1 2, 5 4)') AS env,
        |  graft_st_convex_hull('MULTIPOINT(0 0, 2 0, 1 1, 1 3)') AS hull,
        |  graft_st_srid('POINT(1 1)') AS srid,
        |  graft_st_intersection('POLYGON((0 0, 4 0, 4 4, 0 4, 0 0))',
        |    'POLYGON((2 2, 6 2, 6 6, 2 6, 2 2))') AS ix,
        |  graft_st_symdifference('POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))',
        |    'POLYGON((0 0, 2 0, 2 2, 0 2, 0 0))') AS sd
        |""".stripMargin).collect().head
    assert(row.getString(0) == "POLYGON((1 2, 5 2, 5 4, 1 4, 1 2))")
    assert(row.getString(1) == "POLYGON((0 0, 2 0, 1 3, 0 0))")
    assert(row.getString(2) == GeomConstruct.DefaultCrs)
    assert(row.getString(3) == "POLYGON((2 2, 4 2, 4 4, 2 4, 2 2))")
    assert(row.getString(4) == "POLYGON EMPTY")
    // null propagation: garbage geometry; concave×concave now RESOLVES
    // through the decomposition (r13) — 12 area units, not null
    val n = spark.sql(
      """SELECT graft_st_envelope('nope') AS a,
        |  graft_st_area(graft_st_intersection(
        |    'POLYGON((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))',
        |    'POLYGON((0 0, 4 0, 4 2, 2 2, 2 4, 0 4, 0 0))')) AS b
        |""".stripMargin).collect().head
    assert(n.isNullAt(0) && n.getDouble(1) == 12.0)
  }
}
