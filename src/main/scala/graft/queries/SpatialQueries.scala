package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.Tables
import graft.functions.GraftFunctions._

import graft.operators.Checkpoints.CutOps

/** SURVEY §2.3 J6/J7 — the reference's two hard spatial joins, re-expressed
  * as grid-bucketed equi-joins (SURVEY §4 "KNN search" row: grid-cell
  * bucket join + window top-k; `etl_lalf_road_qrt_spatial_match.py:52-88`,
  * `cam/tables/lf_address.py:80`).
  *
  * Scale design: a naive KNN/θ-join is a cross join — quadratic and
  * rejected at 100 TB. Both queries instead key every geometry to a grid
  * cell of side CellSize and equi-join on the cell id, so the shuffle is
  * hash-partitioned by cell and each task only sees co-located geometries.
  * The probe side explodes to its 3×3 neighbor cells (KNN) / covered cell
  * range (polygon), which bounds the fan-out by a constant; AQE handles
  * cell skew. With the match radius bounded by the cell size the rewrite
  * is EXACT, not approximate — the k-th neighbor cannot hide outside the
  * probed cells — which is also what makes a DuckDB oracle possible.
  *
  * Coordinates are synthesized deterministically from integer keys into a
  * [0,10)×[0,10) plane with two-decimal values (the q_scalar_wkt trick) so
  * both engines compute bit-identical doubles; distances use dist2 —
  * pure add/multiply IEEE math, no trig — for exact cross-engine parity.
  */
object SpatialQueries extends QueryCatalog {

  /** Grid cell side == match radius: candidates within R of a probe point
    * always fall in the probe's 3×3 neighborhood. */
  private val CellSize = 0.5
  private val R2 = CellSize * CellSize // squared match radius
  private val K = 100                  // reference takes nearest-100 first

  /** Deterministic synthetic coordinate in [0,10): (key*p % 1000)/100. */
  private def coord(key: Column, p: Long): Column =
    ((key * p) % 1000).cast("double") / 100.0

  private def cellOf(c: Column): Column = floor(c / CellSize).cast("long")

  /** Query points: customers, with a name key for the post-distance
    * name-match step (road_name_basic equality in the reference). */
  private def queryPoints(s: SparkSession, dir: String): DataFrame =
    Tables.customer(s, dir).select(
      col("c_custkey").as("qid"),
      coord(col("c_custkey"), 7919L).as("qx"),
      coord(col("c_custkey"), 104729L).as("qy"),
      concat(lit("N"), (col("c_custkey") % 7).cast("string")).as("qname"))

  /** Candidate points: suppliers (the "roads"). */
  private def candPoints(s: SparkSession, dir: String): DataFrame =
    Tables.supplier(s, dir).select(
      col("s_suppkey").as("cid"),
      coord(col("s_suppkey"), 7919L).as("cx"),
      coord(col("s_suppkey"), 104729L).as("cy"),
      concat(lit("N"), (col("s_suppkey") % 7).cast("string")).as("cname"))

  /** The KNN spatial match, reference order of operations preserved
    * (SURVEY §7.4): distance-rank ≤ 100 FIRST, name equality SECOND,
    * best-rank-1 LAST — never name-first. */
  private def knn(s: SparkSession, dir: String): DataFrame = {
    val q = queryPoints(s, dir)
      .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
      .withColumn("cellX", cellOf(col("qx")) + col("dx"))
      .withColumn("cellY", cellOf(col("qy")) + col("dy"))
    val c = candPoints(s, dir)
      .withColumn("cellX", cellOf(col("cx")))
      .withColumn("cellY", cellOf(col("cy")))
    val pairs = q.join(c, Seq("cellX", "cellY"))
      .withColumn("d2", dist2(col("qx"), col("qy"), col("cx"), col("cy")))
      .filter(col("d2") <= R2)
    val byDist = Window.partitionBy(col("qid"))
      .orderBy(col("d2"), col("cid")) // unique tiebreaker: candidate id
    val ranked = pairs
      .withColumn("rk", row_number().over(byDist))
      .filter(col("rk") <= K)
    val byRank = Window.partitionBy(col("qid")).orderBy(col("rk"))
    ranked
      .filter(col("qname") === col("cname"))
      .withColumn("best", row_number().over(byRank))
      .filter(col("best") === 1)
      .select(col("qid").as("c_custkey"), col("cid").as("s_suppkey"),
        col("d2"), col("rk").as("dist_rank"))
      .orderBy(col("c_custkey"))
  }

  /** True-KNN semantics (VERDICT r2 "Next round" #2): the reference's
    * `<->` ORDER BY LIMIT 100 is UNBOUNDED nearest-100
    * (`etl_lalf_road_qrt_spatial_match.py:83-84`) — a probe with no
    * candidate within R still matches its nearest same-name road. The
    * exact rewrite is an EXPANDING-RING driver loop: each pass re-grids
    * both sides at cell size r (probe explodes to its 3×3 neighborhood,
    * so every candidate within distance r is seen), and a probe is
    * provably FINAL when either
    *   (a) a same-name candidate ranks ≤ K within r — ranks within r are
    *       a PREFIX of the global distance ranking (every candidate
    *       inside r precedes every candidate outside), so the rank and
    *       d2 emitted are already the unbounded-join answer; or
    *   (b) ≥ K candidates lie within r and none of the first K matched —
    *       the unbounded top-K is fully inside r, so "no match" is final.
    * Only the residue re-runs at r×2; the loop is bounded by
    * log₂(plane/R) ≈ 5 passes, each a cell-keyed equi-join (never a
    * cross join), and the residue shrinks geometrically — at 100 TB each
    * pass shuffles only undecided probes. localCheckpoint cuts lineage
    * across passes (the J12 lesson). */
  private def knnFull(s: SparkSession, dir: String): DataFrame = {
    val cands = candPoints(s, dir)
    // sqrt(200) ≈ 14.15 bounds any distance on the [0,10)² plane: a pass
    // at r ≥ 15 sees every candidate, so every probe decides.
    val GlobalR = 15.0
    var r = CellSize
    // lazy cuts throughout the ring loop (r14 opt, guide §1.2): each
    // pass's single count() action materializes every lazily-cut
    // relation it depends on — the eager-cut variants scheduled 3 jobs
    // per pass (best cut, residue cut, residue count) for the same work
    var residue = queryPoints(s, dir).cutLineage(eager = false)
    // Empty-but-typed accumulator: an empty probe set must yield an empty
    // result, not an NPE from a never-assigned accumulator.
    var out: DataFrame = residue.select(col("qid"), col("qid").as("cid"),
      lit(0.0).as("d2"), lit(0).as("rk")).filter(lit(false))
    var residueCount = residue.count()
    while (residueCount > 0) {
      val global = r >= GlobalR
      val q = residue
        .withColumn("dx", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("dy", explode(array(lit(-1L), lit(0L), lit(1L))))
        .withColumn("cellX", floor(col("qx") / r).cast("long") + col("dx"))
        .withColumn("cellY", floor(col("qy") / r).cast("long") + col("dy"))
      val c = cands
        .withColumn("cellX", floor(col("cx") / r).cast("long"))
        .withColumn("cellY", floor(col("cy") / r).cast("long"))
      val pairs = q.join(c, Seq("cellX", "cellY"))
        .withColumn("d2", dist2(col("qx"), col("qy"), col("cx"), col("cy")))
        .filter(if (global) lit(true) else col("d2") <= lit(r * r))
      val byDist = Window.partitionBy(col("qid"))
        .orderBy(col("d2"), col("cid"))
      // ranked feeds BOTH the best-pick and the decided-count branch in
      // non-global passes — cut it there so the grid join + window run
      // once per pass (single-consumer global pass skips the cut)
      val ranked0 = pairs.withColumn("rk", row_number().over(byDist))
      val ranked =
        if (global) ranked0 else ranked0.cutLineage(eager = false)
      val best = ranked
        .filter(col("rk") <= K && col("qname") === col("cname"))
        .withColumn("best", row_number().over(
          Window.partitionBy(col("qid")).orderBy(col("rk"))))
        .filter(col("best") === 1)
        .select(col("qid"), col("cid"), col("d2"), col("rk"))
        .cutLineage(eager = false)
      out = out.unionByName(best)
      if (global) residueCount = 0
      else {
        val decided = best.select(col("qid")).unionByName(
          ranked.groupBy(col("qid")).agg(count(lit(1)).as("nc"))
            .filter(col("nc") >= K).select(col("qid"))).distinct()
        residue = residue.join(decided, Seq("qid"), "left_anti")
          .cutLineage(eager = false)
        residueCount = residue.count()
        r *= 2
      }
    }
    out
      .select(col("qid").as("c_custkey"), col("cid").as("s_suppkey"),
        col("d2"), col("rk").as("dist_rank"))
      .orderBy(col("c_custkey"))
  }

  /** Rectangles ("postcode polygons") synthesized from nation keys. */
  private def rects(s: SparkSession, dir: String): DataFrame =
    Tables.nation(s, dir).select(
      col("n_nationkey"),
      ((col("n_nationkey") * 3) % 8).cast("double").as("xmin"),
      ((col("n_nationkey") * 5) % 8).cast("double").as("ymin"))
      .withColumn("xmax", col("xmin") + 2.0)
      .withColumn("ymax", col("ymin") + 2.0)

  /** Point-in-polygon: cover each rectangle with its grid cells (explode —
    * a superset prefilter), equi-join points on their single cell, then
    * the EXACT half-open containment test. Half-open [min,max) avoids
    * boundary double-counting ties. */
  private def contains(s: SparkSession, dir: String): DataFrame = {
    val pts = queryPoints(s, dir)
      .withColumn("cellX", cellOf(col("qx")))
      .withColumn("cellY", cellOf(col("qy")))
    val rectCells = rects(s, dir)
      .withColumn("cellX",
        explode(sequence(cellOf(col("xmin")), cellOf(col("xmax")))))
      .withColumn("cellY",
        explode(sequence(cellOf(col("ymin")), cellOf(col("ymax")))))
    pts.join(broadcast(rectCells), Seq("cellX", "cellY"))
      .filter(col("qx") >= col("xmin") && col("qx") < col("xmax") &&
        col("qy") >= col("ymin") && col("qy") < col("ymax"))
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("n_pts"),
        sum(col("qid")).as("sum_keys"),
        // F13 finally on a gated path: great-circle km from the rect's
        // min corner to each point. Rounded to 3 dp because BOTH libm-vs-
        // JVM trig (1 ulp) and engine-specific partial-sum association
        // perturb the low bits of a double sum.
        round(sum(haversineKm(col("xmin"), col("ymin"),
          col("qx"), col("qy"))), 3).as("sum_km"))
      .orderBy(col("n_nationkey"))
  }

  /** J2 — the reference's 9-way join with a spatial edge
    * (`cam/tables/lf_address.py:73-88`): relational FK edges carry the
    * join, the `st_intersects` edge rides as a residual predicate on the
    * already-partitioned pairs (when an equi key exists, no grid rewrite
    * is needed — the FK IS the shuffle key). */
  private def multiwaySpatial(s: SparkSession, dir: String): DataFrame = {
    val pts = Tables.customer(s, dir).select(
      col("c_custkey"), col("c_nationkey"),
      coord(col("c_custkey"), 7919L).as("qx"),
      coord(col("c_custkey"), 104729L).as("qy"))
    val reg = Tables.region(s, dir)
    pts
      .join(broadcast(rects(s, dir)
          .join(Tables.nation(s, dir).select(col("n_nationkey").as("nk"),
            col("n_regionkey")), col("n_nationkey") === col("nk"))),
        col("c_nationkey") === col("n_nationkey") &&
          col("qx") >= col("xmin") && col("qx") < col("xmax") &&
          col("qy") >= col("ymin") && col("qy") < col("ymax"))
      .join(broadcast(reg), col("n_regionkey") === reg("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(count(lit(1)).as("n"), sum(col("c_custkey")).as("sum_keys"))
      .orderBy(col("r_name"))
  }

  /** Morton (Z-order) interleave of two 10-bit grid coordinates as pure
    * integer arithmetic — bit b of gx lands at code bit 2b, of gy at
    * 2b+1. `div` is the engine's integer-division operator (Spark `DIV`,
    * DuckDB `//`); everything else is engine-neutral SQL, so both engines
    * evaluate the identical exact-integer expression. */
  def mortonSql(gx: String, gy: String, div: String, bits: Int = 10): String =
    (0 until bits).flatMap { b =>
      Seq(s"(($gx $div ${1L << b}) % 2) * ${math.pow(4, b).toLong}",
        s"(($gy $div ${1L << b}) % 2) * ${2 * math.pow(4, b).toLong}")
    }.mkString(" + ")

  /** Z-order data layout (Delta OPTIMIZE ZORDER / Hudi space-curve twin):
    * map each point's 2-D grid cell to a 1-D Morton code, so range-
    * partitioning + min/max file skipping serve 2-D box queries. A box
    * becomes a FEW morton ranges (this query scans one quadrant-sized
    * range); at 100 TB the layout write is `repartitionByRange(morton)` +
    * sortWithinPartitions — every file then covers a tight morton (and
    * hence spatial) window, and a box probe touches only the files whose
    * stats overlap (pruning asserted in PlanAuditSpec on a zbucket-
    * partitioned write). Pure-integer morton math replays exactly in SQL. */
  private def zorder(s: SparkSession, dir: String): DataFrame = {
    val g = Tables.customer(s, dir).select(col("c_custkey"),
      (col("c_custkey") * 7919L % 1000L).as("gx"),
      (col("c_custkey") * 104729L % 1000L).as("gy"))
    g.withColumn("morton", expr(mortonSql("gx", "gy", "DIV")))
      .filter(col("morton").between(262144L, 393215L))
      .orderBy(col("morton"), col("c_custkey"))
  }

  /** Grid-density heatmap: per-cell point counts, top-15 hottest cells.
    * The spatial analogue of a GROUP BY — one partial-aggregable shuffle
    * keyed on the cell id; the per-row cell assignment is pure scan-side
    * arithmetic (same `floor(coord/cell)` quantizer as the KNN grid), so
    * the plan is scan → project → partial agg → final agg → top-k, and
    * at 100 TB the map-side combine collapses each input split to ≤
    * |occupied cells| rows before any network hop. */
  private def density(s: SparkSession, dir: String): DataFrame = {
    Tables.customer(s, dir)
      .select(cellOf(coord(col("c_custkey"), 7919L)).as("cell_x"),
        cellOf(coord(col("c_custkey"), 104729L)).as("cell_y"))
      .groupBy(col("cell_x"), col("cell_y"))
      .agg(count(lit(1)).as("n_pts"))
      .orderBy(col("n_pts").desc, col("cell_x"), col("cell_y"))
      .limit(15)
  }

  /** Grid-cell DBSCAN: density-based spatial clustering in the shape
    * that scales — dense cells (≥ MinPts points) become nodes, 8-adjacent
    * dense cells become edges (the same offset-explode equi-join as the
    * KNN grid, never a theta-join), and
    * [[graft.operators.ConnectedComponents]] labels each cluster with
    * its min cell id. This is the cell-graph approximation of DBSCAN
    * (cluster = maximal run of adjacent dense regions); the oracle
    * replays the transitive closure with a recursive CTE. */
  private def clusterCells(s: SparkSession, dir: String): DataFrame = {
    val MinPts = 5
    val dense = Tables.customer(s, dir)
      .select(cellOf(coord(col("c_custkey"), 7919L)).as("cx"),
        cellOf(coord(col("c_custkey"), 104729L)).as("cy"))
      .groupBy(col("cx"), col("cy"))
      .agg(count(lit(1)).as("n"))
      .filter(col("n") >= MinPts)
      .withColumn("cid", col("cx") * 1000L + col("cy"))
    val probe = dense
      .select(col("cid").as("ca"), col("cx"), col("cy"),
        explode(expr(
          "transform(sequence(0, 8), i -> " +
            "named_struct('dx', i div 3 - 1, 'dy', i % 3 - 1))")).as("o"))
      .select(col("ca"), (col("cx") + col("o.dx")).as("nx"),
        (col("cy") + col("o.dy")).as("ny"))
    val edges = probe.join(
      dense.select(col("cid").as("cb"), col("cx").as("nx"),
        col("cy").as("ny")),
      Seq("nx", "ny"))
      .select(col("ca"), col("cb")) // offset (0,0) keeps singletons
    graft.operators.ConnectedComponents
      .label(edges, col("ca"), col("cb"))
      .join(dense, col("node") === col("cid"))
      .groupBy(col("comp"))
      .agg(count(lit(1)).as("n_cells"), sum(col("n")).as("n_pts"))
      .orderBy(col("comp"))
  }

  /** TRUE polygon containment (not the rect approximation of J6): each
    * nation owns a pentagon (fixed literal vertex offsets — no trig, so
    * both engines parse identical doubles), points test by the even-odd
    * RAY CAST over the vertex ring — the st_intersects semantics of the
    * reference's spatial joins on real geometry. Scale shape: the
    * polygon's grid-cell COVER (bbox cells, ≤7×7 per polygon) broadcasts
    * and the point's cell is the equi-join key — the exact predicate
    * runs only on cover-collided pairs, never all points × all
    * polygons; the oracle replays the identical ray cast on a direct
    * bbox join. Division inside the crossing test is guarded by the
    * (yi>py)≠(yj>py) branch; double/0 → ±inf identically in both
    * engines anyway. */
  private def pointInPolygon(s: SparkSession, dir: String): DataFrame = {
    val dxs = Seq(1.5, 0.46, -1.21, -1.21, 0.46)
    val dys = Seq(0.0, 1.43, 0.88, -0.88, -1.43)
    val polys = Tables.nation(s, dir).select(col("n_nationkey"),
        coord(col("n_nationkey"), 7919L).as("cx"),
        coord(col("n_nationkey"), 104729L).as("cy"))
      .withColumn("vx", array(dxs.map(d => col("cx") + d): _*))
      .withColumn("vy", array(dys.map(d => col("cy") + d): _*))
    val cover = polys
      .withColumn("gx", explode(sequence(
        cellOf(col("cx") - 1.5), cellOf(col("cx") + 1.5))))
      .withColumn("gy", explode(sequence(
        cellOf(col("cy") - 1.5), cellOf(col("cy") + 1.5))))
    val pts = Tables.customer(s, dir).select(
      col("c_custkey"),
      coord(col("c_custkey"), 7919L).as("qx"),
      coord(col("c_custkey"), 104729L).as("qy"))
      .withColumn("cellX", cellOf(col("qx")))
      .withColumn("cellY", cellOf(col("qy")))
    val rayCast = expr(
      """aggregate(sequence(1, 5), 0, (acc, i) -> acc + IF(
        |  ((element_at(vy, i) > qy) !=
        |   (element_at(vy, IF(i = 1, 5, i - 1)) > qy)) AND
        |  (qx < (element_at(vx, IF(i = 1, 5, i - 1)) - element_at(vx, i))
        |    * (qy - element_at(vy, i))
        |    / (element_at(vy, IF(i = 1, 5, i - 1)) - element_at(vy, i))
        |    + element_at(vx, i)), 1, 0)) % 2 = 1"""
        .stripMargin.replace("\n", ""))
    pts.join(broadcast(cover),
        col("cellX") === col("gx") && col("cellY") === col("gy"))
      .filter(rayCast)
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("n_inside"),
        sum(col("c_custkey")).as("sum_keys"))
      .orderBy(col("n_nationkey"))
  }

  /** TRUE holed-polygon containment (r11, VERDICT r10 Missing #1): each
    * nation owns a DONUT — outer rectangle with a rectangular hole —
    * rendered as real multi-ring WKT (`POLYGON((outer),(hole))`, the
    * shape [[graft.sources.Shapefile]] emits for real postcode/locality
    * polygons), and points flow through [[graft.rdf.GeoFunctions.within]]
    * — the even-odd ray cast over ALL rings, so hole interiors are
    * OUTSIDE. Scale shape unchanged from J6: the polygon's grid-cell
    * cover broadcasts, the point's cell is the equi-join key, the exact
    * multi-ring test runs only on cover-collided pairs. Bounds sit at
    * x.x05 offsets, off the two-decimal point lattice, so the even-odd
    * rule never sees a boundary case; the oracle restates the donut as
    * interval arithmetic (outer minus hole) — two independent
    * formulations of one region. */
  private def pointInPolygonHoled(s: SparkSession, dir: String): DataFrame = {
    val donuts = Tables.nation(s, dir).select(col("n_nationkey"),
        (((col("n_nationkey") * 3) % 8).cast("double") - 0.005d).as("ox1"),
        (((col("n_nationkey") * 5) % 8).cast("double") - 0.005d).as("oy1"))
      .withColumn("ox2", col("ox1") + 2.01d)
      .withColumn("oy2", col("oy1") + 2.01d)
      .withColumn("hx1", col("ox1") + 0.5d)
      .withColumn("hx2", col("ox1") + 1.51d)
      .withColumn("hy1", col("oy1") + 0.5d)
      .withColumn("hy2", col("oy1") + 1.51d)
    def pt(x: Column, y: Column): Column =
      concat(x.cast("string"), lit(" "), y.cast("string"))
    def ringWkt(x1: Column, y1: Column, x2: Column, y2: Column): Column =
      concat(pt(x1, y1), lit(", "), pt(x2, y1), lit(", "), pt(x2, y2),
        lit(", "), pt(x1, y2), lit(", "), pt(x1, y1))
    val wkt = concat(lit("POLYGON(("),
      ringWkt(col("ox1"), col("oy1"), col("ox2"), col("oy2")),
      lit("),("),
      ringWkt(col("hx1"), col("hy1"), col("hx2"), col("hy2")),
      lit("))"))
    val cover = donuts.withColumn("wkt", wkt)
      .withColumn("cellX",
        explode(sequence(cellOf(col("ox1")), cellOf(col("ox2")))))
      .withColumn("cellY",
        explode(sequence(cellOf(col("oy1")), cellOf(col("oy2")))))
      .select(col("n_nationkey"), col("wkt"), col("cellX"), col("cellY"))
    val pts = queryPoints(s, dir)
      .withColumn("pwkt", concat(lit("POINT("),
        col("qx").cast("string"), lit(" "), col("qy").cast("string"),
        lit(")")))
      .withColumn("cellX", cellOf(col("qx")))
      .withColumn("cellY", cellOf(col("qy")))
    pts.join(broadcast(cover), Seq("cellX", "cellY"))
      .filter(graft.rdf.GeoFunctions.within(col("pwkt"), col("wkt")))
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("n_inside"),
        sum(col("qid")).as("sum_keys"))
      .orderBy(col("n_nationkey"))
  }

  /** Point-to-LINESTRING KNN (r11, VERDICT r10 Missing #2) — the
    * reference's ACTUAL road-match metric: `ST_Distance(q.geom,
    * rp.geom)` / `ORDER BY q.geom <-> rp.geom LIMIT 100` where the
    * road geometries are shapefile LINESTRINGs
    * (`etl_lalf_road_qrt_spatial_match.py:80-83`, `etl-notes.md:57`).
    * Each supplier road is a 2-segment polyline; the distance is the
    * min over segments of the clamped-projection point-segment
    * distance ([[pointSegDist2]] — fixed-order IEEE arithmetic the
    * oracle restates verbatim). Grid rewrite stays EXACT: a road
    * explodes into every cell of its bbox INFLATED BY the match radius
    * R, so any probe within R of any segment — which is necessarily
    * within R of the bbox — shares a cell with it (segment-bbox
    * inflation ≥ query radius = the admissibility proof the verdict
    * asked for); the fan-out is bounded by the polyline extent
    * (≤ (1.1+2R)/cell × (0.6+2R)/cell ≈ 5×4 cells, a constant).
    * Order of operations preserved: distance-rank ≤ 100 FIRST, name
    * equality SECOND, best-rank-1 LAST. */
  private def knnLinestring(s: SparkSession, dir: String): DataFrame = {
    val q = queryPoints(s, dir)
      .withColumn("cellX", cellOf(col("qx")))
      .withColumn("cellY", cellOf(col("qy")))
    val roads = Tables.supplier(s, dir).select(
        col("s_suppkey").as("cid"),
        coord(col("s_suppkey"), 7919L).as("x0"),
        coord(col("s_suppkey"), 104729L).as("y0"),
        concat(lit("N"), (col("s_suppkey") % 7).cast("string")).as("cname"))
      .withColumn("x1", col("x0") + 0.6d)
      .withColumn("y1", col("y0") + 0.35d)
      .withColumn("x2", col("x0") + 1.1d)
      .withColumn("y2", col("y0") - 0.25d)
      .withColumn("cellX", explode(sequence(
        cellOf(least(col("x0"), col("x1"), col("x2")) - CellSize),
        cellOf(greatest(col("x0"), col("x1"), col("x2")) + CellSize))))
      .withColumn("cellY", explode(sequence(
        cellOf(least(col("y0"), col("y1"), col("y2")) - CellSize),
        cellOf(greatest(col("y0"), col("y1"), col("y2")) + CellSize))))
    val pairs = q.join(roads, Seq("cellX", "cellY"))
      .withColumn("d2", least(
        pointSegDist2(col("qx"), col("qy"), col("x0"), col("y0"),
          col("x1"), col("y1")),
        pointSegDist2(col("qx"), col("qy"), col("x1"), col("y1"),
          col("x2"), col("y2"))))
      .filter(col("d2") <= R2)
    val byDist = Window.partitionBy(col("qid"))
      .orderBy(col("d2"), col("cid"))
    val ranked = pairs
      .withColumn("rk", row_number().over(byDist))
      .filter(col("rk") <= K)
    val byRank = Window.partitionBy(col("qid")).orderBy(col("rk"))
    ranked
      .filter(col("qname") === col("cname"))
      .withColumn("best", row_number().over(byRank))
      .filter(col("best") === 1)
      .select(col("qid").as("c_custkey"), col("cid").as("s_suppkey"),
        col("d2"), col("rk").as("dist_rank"))
      .orderBy(col("c_custkey"))
  }

  /** The DuckDB restatement of [[graft.functions.GraftFunctions.pointSegDist2]] —
    * generated with the identical op order so both engines produce
    * bit-identical doubles (t inlined; deterministic IEEE arithmetic
    * makes inline-vs-reuse equivalent). */
  private def psdSql(px: String, py: String, ax: String, ay: String,
      bx: String, by: String): String = {
    val vx = s"($bx - $ax)"
    val vy = s"($by - $ay)"
    val t = s"greatest(0.0, least(1.0, (($px - $ax) * $vx + " +
      s"($py - $ay) * $vy) / ($vx * $vx + $vy * $vy)))"
    s"(($px - ($ax + $t * $vx)) * ($px - ($ax + $t * $vx)) + " +
      s"($py - ($ay + $t * $vy)) * ($py - ($ay + $t * $vy)))"
  }

  // -- Polygon area/centroid + polyline length/sinuosity ----------------
  // The reference's cadastre domain measures its geometries (parcel
  // areas, road lengths); these are the measurement scalars over the
  // same deterministic synthetic rings/lines the join queries use.
  // Everything is fixed-order add/multiply/sqrt chains GENERATED from
  // one offset table for both engines — identical association order, so
  // doubles agree bit-for-bit before the 6-decimal rounding.

  private val PentDx = Seq(1.5, 0.46, -1.21, -1.21, 0.46)
  private val PentDy = Seq(0.0, 1.43, 0.88, -0.88, -1.43)
  private val LineDx = Seq(0.0, 0.8, 1.1, 0.35, -0.4)
  private val LineDy = Seq(0.0, 0.55, -0.3, 0.9, 1.2)

  /** Shoelace area + centroid of the per-nation pentagon, scaled by
    * 1+(key mod 3) so areas differ across rows. Pure column arithmetic —
    * whole-stage codegen, no shuffle but the final sort. */
  private def areaCentroid(s: SparkSession, dir: String): DataFrame = {
    val n = PentDx.length
    def xs(i: Int): Column = col("cx") + col("sc") * lit(PentDx(i % n))
    def ys(i: Int): Column = col("cy") + col("sc") * lit(PentDy(i % n))
    def cross(i: Int): Column = xs(i) * ys(i + 1) - xs(i + 1) * ys(i)
    val s2 = (0 until n).map(cross).reduce(_ + _)
    val sx = (0 until n).map(i => (xs(i) + xs(i + 1)) * cross(i)).reduce(_ + _)
    val sy = (0 until n).map(i => (ys(i) + ys(i + 1)) * cross(i)).reduce(_ + _)
    Tables.nation(s, dir).select(col("n_nationkey"),
        coord(col("n_nationkey"), 7919L).as("cx"),
        coord(col("n_nationkey"), 104729L).as("cy"),
        (lit(1.0) + (col("n_nationkey") % 3).cast("double")).as("sc"))
      .select(col("n_nationkey"),
        round(abs(s2) / 2, 6).as("area"),
        // + 0.0 collapses IEEE signed zero (-0.0 + 0.0 = +0.0), which
        // the two engines' rounding can disagree on
        (round(sx / (s2 * 3), 6) + lit(0.0)).as("cx_centroid"),
        (round(sy / (s2 * 3), 6) + lit(0.0)).as("cy_centroid"))
      .orderBy(col("n_nationkey"))
  }

  /** Per-supplier road polyline: total planar length and sinuosity
    * (length over straight-line end distance — the standard road-geometry
    * quality metric). sqrt is IEEE correctly-rounded in both engines, so
    * unlike trig it is parity-safe. */
  private def polylineLength(s: SparkSession, dir: String): DataFrame = {
    val n = LineDx.length
    def xs(i: Int): Column = col("cx") + col("sc") * lit(LineDx(i))
    def ys(i: Int): Column = col("cy") + col("sc") * lit(LineDy(i))
    def seg(i: Int): Column = sqrt(
      (xs(i + 1) - xs(i)) * (xs(i + 1) - xs(i)) +
        (ys(i + 1) - ys(i)) * (ys(i + 1) - ys(i)))
    val len = (0 until n - 1).map(seg).reduce(_ + _)
    val straight = sqrt(
      (xs(n - 1) - xs(0)) * (xs(n - 1) - xs(0)) +
        (ys(n - 1) - ys(0)) * (ys(n - 1) - ys(0)))
    Tables.supplier(s, dir).select(col("s_suppkey"),
        coord(col("s_suppkey"), 7919L).as("cx"),
        coord(col("s_suppkey"), 104729L).as("cy"),
        (lit(1.0) + (col("s_suppkey") % 4).cast("double")).as("sc"))
      .select(col("s_suppkey"),
        round(len, 6).as("length_planar"),
        round(len / straight, 6).as("sinuosity"))
      .orderBy(col("s_suppkey"))
  }

  /** The oracle twin of [[areaCentroid]]/[[polylineLength]]'s expression
    * chains, GENERATED from the same offset tables — term order and
    * association depth are identical by construction. */
  private def sqlXs(cN: String, offs: Seq[Double])(i: Int): String =
    s"($cN + sc * (${offs(i % offs.length)}))"

  private def measureOracle: (String, String) = {
    val n = PentDx.length
    val xs = sqlXs("cx", PentDx) _
    val ys = sqlXs("cy", PentDy) _
    def cross(i: Int) = s"(${xs(i)} * ${ys(i + 1)} - ${xs(i + 1)} * ${ys(i)})"
    val s2 = (0 until n).map(cross).reduce((a, b) => s"($a + $b)")
    val sx = (0 until n)
      .map(i => s"((${xs(i)} + ${xs(i + 1)}) * ${cross(i)})")
      .reduce((a, b) => s"($a + $b)")
    val sy = (0 until n)
      .map(i => s"((${ys(i)} + ${ys(i + 1)}) * ${cross(i)})")
      .reduce((a, b) => s"($a + $b)")
    val area =
      s"""WITH p AS (
         |  SELECT n_nationkey,
         |    CAST((n_nationkey * 7919) % 1000 AS DOUBLE) / 100.0 AS cx,
         |    CAST((n_nationkey * 104729) % 1000 AS DOUBLE) / 100.0 AS cy,
         |    1.0 + CAST(n_nationkey % 3 AS DOUBLE) AS sc
         |  FROM nation)
         |SELECT n_nationkey,
         |  round(abs($s2) / 2, 6) AS area,
         |  round($sx / ($s2 * 3), 6) + 0.0 AS cx_centroid,
         |  round($sy / ($s2 * 3), 6) + 0.0 AS cy_centroid
         |FROM p ORDER BY n_nationkey""".stripMargin
    val m = LineDx.length
    val lx = sqlXs("cx", LineDx) _
    val ly = sqlXs("cy", LineDy) _
    def seg(i: Int) =
      s"sqrt((${lx(i + 1)} - ${lx(i)}) * (${lx(i + 1)} - ${lx(i)}) + " +
        s"(${ly(i + 1)} - ${ly(i)}) * (${ly(i + 1)} - ${ly(i)}))"
    val len = (0 until m - 1).map(seg).reduce((a, b) => s"($a + $b)")
    val straight =
      s"sqrt((${lx(m - 1)} - ${lx(0)}) * (${lx(m - 1)} - ${lx(0)}) + " +
        s"(${ly(m - 1)} - ${ly(0)}) * (${ly(m - 1)} - ${ly(0)}))"
    val line =
      s"""WITH p AS (
         |  SELECT s_suppkey,
         |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 AS cx,
         |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 AS cy,
         |    1.0 + CAST(s_suppkey % 4 AS DOUBLE) AS sc
         |  FROM supplier)
         |SELECT s_suppkey,
         |  round($len, 6) AS length_planar,
         |  round($len / $straight, 6) AS sinuosity
         |FROM p ORDER BY s_suppkey""".stripMargin
    (area, line)
  }

  /** Geometry-column × geometry-column spatial join (r12, VERDICT r11
    * Missing #2 — the reference's actual join shape:
    * `ST_Intersects(pp.wkt, ST_GeomFromText(sp.wkt_literal,…))`,
    * `cam/tables/lf_address.py:80`): road LINESTRING column × locality
    * POLYGON column, NO constant side. Scale shape: each side explodes
    * into the grid cells of its bbox (roads ≤ ~4 cells, localities a
    * bounded constant), the cell id is the equi-join key (the locality
    * cover BROADCASTS — nation-sized dimension), the exact native
    * `graft_sf_relate` predicate runs only on cover-collided pairs,
    * and multi-cell collisions dedupe with one DISTINCT on the pair
    * key before the aggregate. Bounds sit at .005 offsets off the
    * two-decimal coordinate lattice, so no touch/boundary case exists
    * and the oracle restates intersection as pure interval logic. */
  private def polyLineIntersectsJoin(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val x = coord(k, 7919L); val y = coord(k, 104729L)
    val horiz = k % 2 === 0
    def pt(px: Column, py: Column): Column =
      concat(px.cast("string"), lit(" "), py.cast("string"))
    val roads = Tables.customer(s, dir).select(
      k.as("qid"),
      when(horiz, concat(lit("LINESTRING("), pt(x - 0.7d, y), lit(", "),
          pt(x + 0.7d, y), lit(")")))
        .otherwise(concat(lit("LINESTRING("), pt(x, y - 0.7d), lit(", "),
          pt(x, y + 0.7d), lit(")"))).as("rwkt"),
      when(horiz, x - 0.7d).otherwise(x).as("x1"),
      when(horiz, x + 0.7d).otherwise(x).as("x2"),
      when(horiz, y).otherwise(y - 0.7d).as("y1"),
      when(horiz, y).otherwise(y + 0.7d).as("y2"))
    val roadCover = roads
      .withColumn("cellX",
        explode(sequence(cellOf(col("x1")), cellOf(col("x2")))))
      .withColumn("cellY",
        explode(sequence(cellOf(col("y1")), cellOf(col("y2")))))
      .select(col("qid"), col("rwkt"), col("cellX"), col("cellY"))
    val n = col("n_nationkey")
    val rects = Tables.nation(s, dir).select(n,
        (((n * 3) % 8).cast("double") - 0.005d).as("a1"),
        (((n * 5) % 8).cast("double") - 0.005d).as("b1"))
      .withColumn("a2", col("a1") + 2.01d)
      .withColumn("b2", col("b1") + 2.01d)
    def ringWkt(x1: Column, y1: Column, x2: Column, y2: Column): Column =
      concat(pt(x1, y1), lit(", "), pt(x2, y1), lit(", "), pt(x2, y2),
        lit(", "), pt(x1, y2), lit(", "), pt(x1, y1))
    val rectCover = rects
      .withColumn("pwkt", concat(lit("POLYGON(("),
        ringWkt(col("a1"), col("b1"), col("a2"), col("b2")), lit("))")))
      .withColumn("cellX",
        explode(sequence(cellOf(col("a1")), cellOf(col("a2")))))
      .withColumn("cellY",
        explode(sequence(cellOf(col("b1")), cellOf(col("b2")))))
      .select(col("n_nationkey"), col("pwkt"), col("cellX"), col("cellY"))
    roadCover.join(broadcast(rectCover), Seq("cellX", "cellY"))
      .filter(graft.rdf.GeoFunctions.intersects(col("rwkt"), col("pwkt")))
      .select(col("n_nationkey"), col("qid")).distinct()
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("n_roads"), sum(col("qid")).as("sum_keys"))
      .orderBy(col("n_nationkey"))
  }

  /** Polygon-column × polygon-column sfOverlaps join (r12, same
    * machinery): per-customer 0.6° squares × per-nation 2.01°
    * localities, keeping only PARTIAL overlaps — interiors meet but
    * neither side contains the other (containment pairs match no
    * row). Same grid cover + broadcast + DISTINCT dedupe shape. */
  private def polyPolyOverlapsJoin(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val x = coord(k, 7919L); val y = coord(k, 104729L)
    def pt(px: Column, py: Column): Column =
      concat(px.cast("string"), lit(" "), py.cast("string"))
    def ringWkt(x1: Column, y1: Column, x2: Column, y2: Column): Column =
      concat(pt(x1, y1), lit(", "), pt(x2, y1), lit(", "), pt(x2, y2),
        lit(", "), pt(x1, y2), lit(", "), pt(x1, y1))
    val squares = Tables.customer(s, dir).select(
        k.as("qid"), (x - 0.3d).as("sx1"), (x + 0.3d).as("sx2"),
        (y - 0.3d).as("sy1"), (y + 0.3d).as("sy2"))
      .withColumn("swkt", concat(lit("POLYGON(("),
        ringWkt(col("sx1"), col("sy1"), col("sx2"), col("sy2")), lit("))")))
    val sqCover = squares
      .withColumn("cellX",
        explode(sequence(cellOf(col("sx1")), cellOf(col("sx2")))))
      .withColumn("cellY",
        explode(sequence(cellOf(col("sy1")), cellOf(col("sy2")))))
      .select(col("qid"), col("swkt"), col("cellX"), col("cellY"))
    val n = col("n_nationkey")
    val rects = Tables.nation(s, dir).select(n,
        (((n * 3) % 8).cast("double") - 0.005d).as("a1"),
        (((n * 5) % 8).cast("double") - 0.005d).as("b1"))
      .withColumn("a2", col("a1") + 2.01d)
      .withColumn("b2", col("b1") + 2.01d)
    val rectCover = rects
      .withColumn("pwkt", concat(lit("POLYGON(("),
        ringWkt(col("a1"), col("b1"), col("a2"), col("b2")), lit("))")))
      .withColumn("cellX",
        explode(sequence(cellOf(col("a1")), cellOf(col("a2")))))
      .withColumn("cellY",
        explode(sequence(cellOf(col("b1")), cellOf(col("b2")))))
      .select(col("n_nationkey"), col("pwkt"), col("cellX"), col("cellY"))
    sqCover.join(broadcast(rectCover), Seq("cellX", "cellY"))
      .filter(graft.rdf.GeoFunctions.overlaps(col("swkt"), col("pwkt")))
      .select(col("n_nationkey"), col("qid")).distinct()
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("n_overlaps"), sum(col("qid")).as("sum_keys"))
      .orderBy(col("n_nationkey"))
  }

  /** The AUTOMATIC form of [[polyPolyOverlapsJoin]] (r12): no
    * hand-written cover/explode/dedupe — the query is the plain relate
    * θ-join (`squares JOIN rects ON sfOverlaps(swkt, pwkt)`, exactly
    * the reference's `ST_Intersects` join shape), and
    * [[graft.plans.SpatialRelateJoinRewrite]] turns it into the
    * grid-cell cover equi-join with a canonical-cell conjunct
    * (exactly-once per pair, no DISTINCT). The rule is installed in
    * every session by [[graft.plans.GraftExtensions]]. The oracle is
    * the same interval restatement as the manual gate: result identity
    * is the rule's exactness contract. */
  private def polyOverlapsAutoJoin(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val x = coord(k, 7919L); val y = coord(k, 104729L)
    def pt(px: Column, py: Column): Column =
      concat(px.cast("string"), lit(" "), py.cast("string"))
    def ringWkt(x1: Column, y1: Column, x2: Column, y2: Column): Column =
      concat(pt(x1, y1), lit(", "), pt(x2, y1), lit(", "), pt(x2, y2),
        lit(", "), pt(x1, y2), lit(", "), pt(x1, y1))
    val squares = Tables.customer(s, dir).select(
        k.as("qid"), (x - 0.3d).as("sx1"), (x + 0.3d).as("sx2"),
        (y - 0.3d).as("sy1"), (y + 0.3d).as("sy2"))
      .withColumn("swkt", concat(lit("POLYGON(("),
        ringWkt(col("sx1"), col("sy1"), col("sx2"), col("sy2")), lit("))")))
      .select(col("qid"), col("swkt"))
    val n = col("n_nationkey")
    val rects = Tables.nation(s, dir).select(n,
        (((n * 3) % 8).cast("double") - 0.005d).as("a1"),
        (((n * 5) % 8).cast("double") - 0.005d).as("b1"))
      .withColumn("a2", col("a1") + 2.01d)
      .withColumn("b2", col("b1") + 2.01d)
      .withColumn("pwkt", concat(lit("POLYGON(("),
        ringWkt(col("a1"), col("b1"), col("a2"), col("b2")), lit("))")))
      .select(col("n_nationkey"), col("pwkt"))
    squares.join(rects,
        graft.rdf.GeoFunctions.overlaps(col("swkt"), col("pwkt")))
      .groupBy(col("n_nationkey"))
      .agg(count(lit(1)).as("n_overlaps"), sum(col("qid")).as("sum_keys"))
      .orderBy(col("n_nationkey"))
  }

  // ====================================================================
  // Constructive geometry (r12): the GeoSPARQL §8.7 non-topological
  // functions — envelope / convexHull / getSRID / boundary and the
  // even-odd set ops (graft.plans.GeomConstruct). All
  // geometries below are synthesized on INTEGER coordinates so the
  // canonical WKT output strings replay in DuckDB with integer string
  // concatenation (the canonical-serialization contract: CCW rings
  // rotated to the min vertex, integral doubles printed as integers).
  // ====================================================================

  /** Integer expression rendered as its decimal string (both engines
    * print BIGINT identically — the WKT-string parity trick). */
  private def istr(c: Column): Column = c.cast("long").cast("string")

  private def ipt(x: Column, y: Column): Column =
    concat(istr(x), lit(" "), istr(y))

  /** geof:envelope + geof:convexHull + geof:getSRID over a 3-vertex
    * LINESTRING per customer; the oracle string-builds the canonical
    * envelope box and hull triangle from the same integer arithmetic. */
  private def geomEnvelopeHull(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val x = (k % 50) + 10
    val y = (k % 30) + 20
    val line = concat(lit("LINESTRING("), ipt(x, y), lit(", "),
      ipt(x + 4, y + 2), lit(", "), ipt(x + 1, y + 5), lit(")"))
    Tables.customer(s, dir)
      .select(k.as("qid"), line.as("wkt"))
      .select(col("qid"),
        graft.rdf.GeoFunctions.envelope(col("wkt")).as("env"),
        graft.rdf.GeoFunctions.convexHull(col("wkt")).as("hull"),
        graft.rdf.GeoFunctions.getSrid(col("wkt")).as("srid"))
      .orderBy(col("qid"))
  }

  /** geof:boundary over mixed geometry: even customers carry a HOLED
    * polygon (boundary = both rings as a canonical MULTILINESTRING),
    * odd customers an open 3-vertex LINESTRING (boundary = the mod-2
    * endpoint MULTIPOINT). */
  private def geomBoundary(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val x = (k % 40) + 5
    val y = (k % 25) + 3
    val poly = concat(lit("POLYGON(("),
      ipt(x, y), lit(", "), ipt(x + 10, y), lit(", "),
      ipt(x + 10, y + 10), lit(", "), ipt(x, y + 10), lit(", "),
      ipt(x, y), lit("),("),
      ipt(x + 2, y + 2), lit(", "), ipt(x + 8, y + 2), lit(", "),
      ipt(x + 8, y + 8), lit(", "), ipt(x + 2, y + 8), lit(", "),
      ipt(x + 2, y + 2), lit("))"))
    val line = concat(lit("LINESTRING("), ipt(x, y), lit(", "),
      ipt(x + 3, y + 1), lit(", "), ipt(x + 5, y), lit(")"))
    Tables.customer(s, dir)
      .select(k.as("qid"),
        when(k % 2 === 0, poly).otherwise(line).as("wkt"))
      .select(col("qid"),
        graft.rdf.GeoFunctions.boundaryGeom(col("wkt")).as("bnd"))
      .orderBy(col("qid"))
  }

  /** Per-customer 6×6 square, the constant 8×5 clip rectangle the
    * overlay gates share. */
  private def overlaySquare(k: Column): Column = {
    val x = k % 20
    val y = k % 12
    concat(lit("POLYGON(("),
      ipt(x, y), lit(", "), ipt(x + 6, y), lit(", "),
      ipt(x + 6, y + 6), lit(", "), ipt(x, y + 6), lit(", "),
      ipt(x, y), lit("))"))
  }
  private val OverlayClip = "POLYGON((10 4, 18 4, 18 9, 10 9, 10 4))"

  /** The constant CONCAVE comb region (10 teeth on a spine) the
    * concave×concave overlay gate clips against: spine [0,40]×[2,3],
    * teeth [4i+1,4i+3]×[3,7]. Written as one simple rectilinear ring
    * — decomposed back into those rectangles by the oracle. */
  private val OverlayComb: String =
    "POLYGON((0 2, 40 2, 40 3, " +
      (9 to 0 by -1).map(i =>
        s"${4 * i + 3} 3, ${4 * i + 3} 7, ${4 * i + 1} 7, ${4 * i + 1} 3")
        .mkString(", ") +
      ", 0 3, 0 2))"

  /** geof:buffer (r13 — VERDICT r12 Missing #2, the reference's
    * distance-threshold road match, etl_lalf_road_qrt_spatial_match.py:
    * 80-83): customer points tested against the CONSTANT road's 3.5°
    * buffer — the buffer folds ONCE at optimization time (constant
    * operand, native expression) and the membership probe rides the
    * scan. Radius 3.5 puts every integer-lattice distance outside the
    * inscribed 20-gon's ambiguity band (r·cos 10.31°, r] =
    * (3.4437, 3.5]: axis-aligned interiors give integer distances,
    * endpoints give √(a²+b²), and 12 is not a sum of two squares — so
    * the oracle can replay with EXACT point-to-segment distance. The
    * area column buffers the per-customer 6×6 box and checks the
    * closed form w·h + 2r(w+h) + (386/125)·r² at 6 dp. */
  private val RoadLine = "LINESTRING(5 2, 15 2, 15 10, 30 10)"

  private def geomBufferRoadMatch(s: SparkSession,
      dir: String): DataFrame = {
    val k = col("c_custkey")
    val p = concat(lit("POINT("), istr(k % 35), lit(" "), istr(k % 14),
      lit(")"))
    val rk = ((k % 3) + 1) / lit(2.0)
    Tables.customer(s, dir)
      .select(k.as("qid"), p.as("p"), rk.as("rk"),
        overlaySquare(k).as("box"))
      .select(col("qid"),
        graft.rdf.GeoFunctions.within(col("p"),
          graft.rdf.GeoFunctions.bufferGeom(lit(RoadLine), lit(3.5)))
          .cast("int").as("hit"),
        round(graft.rdf.GeoFunctions.areaGeom(
          graft.rdf.GeoFunctions.bufferGeom(col("box"), col("rk"))), 6)
          .as("barea"))
      .orderBy(col("qid"))
  }

  /** uom:metre for geof:buffer + geof:distance, PAIRED with the degree
    * form on the same road fixture (r14 — VERDICT r13 Missing #2).
    * `hit_deg` replays the r13 exact-distance oracle unchanged; `hit_m`
    * is membership in the road's 378 km METRIC buffer — the engine
    * buffers through the local equirectangular projection at the road's
    * own mid-latitude (φ₀ = 6°), so the oracle replays that closed
    * form: scale lon by cos 6°, exact point-to-segment distance vs
    * 378000 / MetresPerDegree. The radius keeps every scaled lattice
    * distance out of the inscribed-20-gon ambiguity band
    * (0.98387·r, r] — verified over the whole k%35 × k%14 lattice, the
    * fixture's value set at every sf (nearest gap edges 3.1606 and
    * 3.5919 vs band 3.3446..3.3994). `band_m` buckets the haversine
    * distance to the constant POINT(20 6) into 100 km bands (worst
    * lattice margin to a band edge is 147 m — libm-ulp safe; both
    * engines pin the same op-ordered formula). */
  private def geomUomMetre(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val p = concat(lit("POINT("), istr(k % 35), lit(" "), istr(k % 14),
      lit(")"))
    Tables.customer(s, dir)
      .select(k.as("qid"), p.as("p"))
      .select(col("qid"),
        graft.rdf.GeoFunctions.within(col("p"),
          graft.rdf.GeoFunctions.bufferGeom(lit(RoadLine), lit(3.5)))
          .cast("int").as("hit_deg"),
        graft.rdf.GeoFunctions.within(col("p"),
          graft.rdf.GeoFunctions.bufferGeomMetres(lit(RoadLine),
            lit(378000.0)))
          .cast("int").as("hit_m"),
        floor(graft.rdf.GeoFunctions.distance(col("p"),
          lit("POINT(20 6)"),
          graft.rdf.GeoFunctions.UomNs + "metre") / 100000)
          .cast("long").as("band_m"))
      .orderBy(col("qid"))
  }

  /** CONCAVE × CONCAVE constructive overlay (r13 — VERDICT r12 Missing
    * #1, the cadastral parcel ∩ zone shape): a per-customer L-shaped
    * parcel clipped by the constant comb region, both concave. The
    * oracle decomposes both operands into their generating rectangles
    * (the shapes are rectilinear by construction) and sums pairwise
    * rectangle overlaps — a closed form that is exact in integers,
    * independent of the engine's overlay. */
  private def geomIntersectionConcave(s: SparkSession,
      dir: String): DataFrame = {
    val k = col("c_custkey")
    val x = k % 30
    // L-shape: [x,x+6]×[0,3] ∪ [x,x+3]×[3,6] as one concave ring
    val lShape = concat(lit("POLYGON(("),
      ipt(x, lit(0)), lit(", "), ipt(x + 6, lit(0)), lit(", "),
      ipt(x + 6, lit(3)), lit(", "), ipt(x + 3, lit(3)), lit(", "),
      ipt(x + 3, lit(6)), lit(", "), ipt(x, lit(6)), lit(", "),
      ipt(x, lit(0)), lit("))"))
    Tables.customer(s, dir)
      .select(k.as("qid"), lShape.as("a"))
      .select(col("qid"),
        graft.rdf.GeoFunctions.areaGeom(
          graft.rdf.GeoFunctions.intersection(col("a"), lit(OverlayComb)))
          .as("ia"))
      .orderBy(col("qid"))
  }

  /** geof:intersection, compared LEXICALLY: the overlay of the row
    * square and the constant rectangle must canonicalize to exactly the
    * min/max-corner rectangle the oracle string-builds (touch-only pairs
    * have no areal part → POLYGON EMPTY). */
  private def geomIntersection(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    Tables.customer(s, dir)
      .select(k.as("qid"), overlaySquare(k).as("a"))
      .select(col("qid"),
        graft.rdf.GeoFunctions.intersection(col("a"), lit(OverlayClip))
          .as("ix"))
      .orderBy(col("qid"))
  }

  /** union / difference / symDifference verified SEMANTICALLY: the ring
    * algebra's output feeds sfWithin point-membership probes whose
    * parity the oracle replays as interval Boolean logic (in_u = A∨B,
    * in_d = A∧¬B, in_s = A⊕B). Probe points sit on half-integer
    * coordinates so they never touch a ring. */
  private def geomOverlayMembership(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val p = concat(lit("POINT("), istr((k * 7) % 24), lit(".5 "),
      istr((k * 11) % 14), lit(".5)"))
    Tables.customer(s, dir)
      .select(k.as("qid"), overlaySquare(k).as("a"), p.as("p"))
      .select(col("qid"),
        graft.rdf.GeoFunctions.within(col("p"),
          graft.rdf.GeoFunctions.unionGeom(col("a"), lit(OverlayClip)))
          .cast("int").as("in_u"),
        graft.rdf.GeoFunctions.within(col("p"),
          graft.rdf.GeoFunctions.differenceGeom(col("a"), lit(OverlayClip)))
          .cast("int").as("in_d"),
        graft.rdf.GeoFunctions.within(col("p"),
          graft.rdf.GeoFunctions.symDifference(col("a"), lit(OverlayClip)))
          .cast("int").as("in_s"))
      .orderBy(col("qid"))
  }

  /** graft_st_area / graft_st_length / graft_st_centroid over WKT
    * geometry columns: even customers a CONCENTRIC-holed square (area
    * 100−4g², perimeter 40+8g, centroid exactly the shared center — an
    * exact integer division, so the canonical POINT string matches
    * byte-for-byte), odd customers a 3-4-5 polyline (length exactly
    * 10). All arithmetic closed-form in the oracle. */
  private def geomMeasure(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val x = (k % 40) + 5
    val y = (k % 25) + 3
    val g = (k % 3) + 1
    val poly = concat(lit("POLYGON(("),
      ipt(x, y), lit(", "), ipt(x + 10, y), lit(", "),
      ipt(x + 10, y + 10), lit(", "), ipt(x, y + 10), lit(", "),
      ipt(x, y), lit("),("),
      ipt(x + 5 - g, y + 5 - g), lit(", "), ipt(x + 5 + g, y + 5 - g),
      lit(", "), ipt(x + 5 + g, y + 5 + g), lit(", "),
      ipt(x + 5 - g, y + 5 + g), lit(", "), ipt(x + 5 - g, y + 5 - g),
      lit("))"))
    val line = concat(lit("LINESTRING("), ipt(x, y), lit(", "),
      ipt(x + 3, y + 4), lit(", "), ipt(x + 6, y), lit(")"))
    Tables.customer(s, dir)
      .select(k.as("qid"),
        when(k % 2 === 0, poly).otherwise(line).as("wkt"))
      .select(col("qid"),
        graft.rdf.GeoFunctions.areaGeom(col("wkt")).as("area"),
        graft.rdf.GeoFunctions.lengthGeom(col("wkt")).as("len"),
        when(col("qid") % 2 === 0,
          graft.rdf.GeoFunctions.centroidGeom(col("wkt")))
          .otherwise(lit("n/a")).as("ctr"))
      .orderBy(col("qid"))
  }

  /** The overlay-analytics composition (the flood-zone shape:
    * `area(intersection(parcel, zone))`): per-customer square clipped
    * by the constant rectangle, areas partial-aggregated per bucket —
    * the empty region measures 0, so no null guards. */
  private def geomOverlayArea(s: SparkSession, dir: String): DataFrame = {
    val k = col("c_custkey")
    val ia = graft.rdf.GeoFunctions.areaGeom(
      graft.rdf.GeoFunctions.intersection(overlaySquare(k),
        lit(OverlayClip)))
    Tables.customer(s, dir)
      .select(k.as("qid"), ia.as("ia"))
      .groupBy((col("qid") % 10).as("bucket"))
      .agg(sum(col("ia")).as("total_overlap"),
        count(when(col("ia") > 0, 1)).as("n_overlapping"))
      .orderBy(col("bucket"))
  }

  override def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_geom_measure" -> ((s, dir) => geomMeasure(s, dir)),
    "q_geom_overlay_area" -> ((s, dir) => geomOverlayArea(s, dir)),
    "q_geom_envelope_hull" -> ((s, dir) => geomEnvelopeHull(s, dir)),
    "q_geom_boundary" -> ((s, dir) => geomBoundary(s, dir)),
    "q_geom_intersection" -> ((s, dir) => geomIntersection(s, dir)),
    "q_geom_intersection_concave" ->
      ((s, dir) => geomIntersectionConcave(s, dir)),
    "q_geom_buffer_roadmatch" ->
      ((s, dir) => geomBufferRoadMatch(s, dir)),
    "q_geom_uom_metre" -> ((s, dir) => geomUomMetre(s, dir)),
    "q_geom_overlay_membership" ->
      ((s, dir) => geomOverlayMembership(s, dir)),
    "q_join_poly_line_intersects" ->
      ((s, dir) => polyLineIntersectsJoin(s, dir)),
    "q_join_poly_poly_overlaps" ->
      ((s, dir) => polyPolyOverlapsJoin(s, dir)),
    "q_join_relate_auto" -> ((s, dir) => polyOverlapsAutoJoin(s, dir)),
    "q_spatial_area_centroid" -> ((s, dir) => areaCentroid(s, dir)),
    "q_spatial_polyline_length" -> ((s, dir) => polylineLength(s, dir)),
    "q_join_point_in_polygon" -> ((s, dir) => pointInPolygon(s, dir)),
    "q_join_point_in_polygon_holed" ->
      ((s, dir) => pointInPolygonHoled(s, dir)),
    "q_join_knn_linestring" -> ((s, dir) => knnLinestring(s, dir)),
    "q_spatial_cluster_cells" -> ((s, dir) => clusterCells(s, dir)),
    "q_join_knn" -> ((s, dir) => knn(s, dir)),
    "q_join_knn_full" -> ((s, dir) => knnFull(s, dir)),
    "q_join_spatial_contains" -> ((s, dir) => contains(s, dir)),
    "q_join_multiway_spatial" -> ((s, dir) => multiwaySpatial(s, dir)),
    "q_spatial_zorder" -> ((s, dir) => zorder(s, dir)),
    "q_spatial_density" -> ((s, dir) => density(s, dir))
  )

  /** DuckDB replays the same semantics with a bounded θ-join (fine at
    * oracle scale); the Spark side must produce identical rows from the
    * bucketed plan — that equivalence is exactly what the gate checks. */
  override def oracleSql: Map[String, String] = Map(
    // Constructive-geometry gates: the oracle string-builds the
    // CANONICAL serialization (CCW from the min vertex, integers) from
    // the same key arithmetic — byte-identical strings are the check.
    "q_geom_measure" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid,
        |    c_custkey % 40 + 5 AS x, c_custkey % 25 + 3 AS y,
        |    1 + c_custkey % 3 AS g
        |  FROM customer)
        |SELECT qid,
        |  CASE WHEN qid % 2 = 0
        |    THEN CAST(100 - 4*g*g AS DOUBLE) ELSE 0.0 END AS area,
        |  CASE WHEN qid % 2 = 0
        |    THEN CAST(40 + 8*g AS DOUBLE) ELSE 10.0 END AS len,
        |  CASE WHEN qid % 2 = 0
        |    THEN 'POINT(' || CAST(x+5 AS VARCHAR) || ' '
        |      || CAST(y+5 AS VARCHAR) || ')'
        |    ELSE 'n/a' END AS ctr
        |FROM t ORDER BY qid""".stripMargin,
    "q_geom_overlay_area" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid,
        |    c_custkey % 20 AS x, c_custkey % 12 AS y
        |  FROM customer),
        |i AS (
        |  SELECT qid,
        |    GREATEST(LEAST(x + 6, 18) - GREATEST(x, 10), 0) AS w,
        |    GREATEST(LEAST(y + 6, 9) - GREATEST(y, 4), 0) AS h
        |  FROM t)
        |SELECT qid % 10 AS bucket,
        |  CAST(SUM(w * h) AS DOUBLE) AS total_overlap,
        |  COUNT(*) FILTER (WHERE w * h > 0) AS n_overlapping
        |FROM i GROUP BY 1 ORDER BY 1""".stripMargin,
    // Concave×concave overlay: both operands decompose into axis-
    // aligned rectangles with DISJOINT interiors (L = bottom bar ∪ top
    // stub; comb = spine ∪ 10 teeth), so |A∩B| = Σᵢⱼ |aᵢ∩bⱼ| — pairwise
    // rectangle overlaps, exact in integers.
    "q_geom_intersection_concave" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid, c_custkey % 30 AS x FROM customer),
        |ar AS (
        |  SELECT qid, x AS ax1, x + 6 AS ax2, 0 AS ay1, 3 AS ay2 FROM t
        |  UNION ALL
        |  SELECT qid, x, x + 3, 3, 6 FROM t),
        |br AS (
        |  SELECT 0 AS bx1, 40 AS bx2, 2 AS by1, 3 AS by2
        |  UNION ALL
        |  SELECT 4 * i + 1, 4 * i + 3, 3, 7 FROM range(0, 10) r(i))
        |SELECT qid,
        |  CAST(SUM(GREATEST(LEAST(ax2, bx2) - GREATEST(ax1, bx1), 0) *
        |           GREATEST(LEAST(ay2, by2) - GREATEST(ay1, by1), 0))
        |    AS DOUBLE) AS ia
        |FROM ar CROSS JOIN br GROUP BY qid ORDER BY qid""".stripMargin,
    // geof:buffer road match: the oracle replays with EXACT point-to-
    // segment distance (the buffer's fixtures keep every lattice
    // distance off the inscribed-fan ambiguity band) and the buffered-
    // box area with its closed form (strips + Pythagorean corner fans).
    "q_geom_buffer_roadmatch" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid, c_custkey % 35 AS px,
        |    c_custkey % 14 AS py, (c_custkey % 3 + 1) / 2.0 AS rk
        |  FROM customer),
        |segs AS (SELECT * FROM (VALUES (5, 2, 15, 2), (15, 2, 15, 10),
        |  (15, 10, 30, 10)) s(x1, y1, x2, y2)),
        |c AS (
        |  SELECT qid, px, py, x1, y1, x2, y2,
        |    GREATEST(0, LEAST(1,
        |      ((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1)) /
        |      CAST((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)
        |        AS DOUBLE))) AS tt
        |  FROM t CROSS JOIN segs),
        |d AS (
        |  SELECT qid, MIN(sqrt(
        |    (px - (x1 + tt * (x2 - x1))) * (px - (x1 + tt * (x2 - x1))) +
        |    (py - (y1 + tt * (y2 - y1))) * (py - (y1 + tt * (y2 - y1)))))
        |    AS dist
        |  FROM c GROUP BY qid)
        |SELECT t.qid, CAST(d.dist < 3.5 AS INT) AS hit,
        |  ROUND(36 + 24 * rk + 3.088 * rk * rk, 6) AS barea
        |FROM t JOIN d USING (qid) ORDER BY qid""".stripMargin,
    // uom:metre pairing: hit_deg replays exact planar distance (the r13
    // roadmatch oracle); hit_m replays the engine's documented local
    // equirectangular semantics in closed form (lon × cos 6°, exact
    // point-to-segment distance vs 378000 m / MetresPerDegree); band_m
    // replays the pinned op-ordered haversine
    "q_geom_uom_metre" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid, c_custkey % 35 AS px,
        |    c_custkey % 14 AS py
        |  FROM customer),
        |k AS (SELECT cos(radians(6.0)) AS c,
        |  378000.0 / (pi() * 6371.0088 * 1000.0 / 180.0) AS rdeg),
        |segs AS (SELECT * FROM (VALUES (5, 2, 15, 2), (15, 2, 15, 10),
        |  (15, 10, 30, 10)) s(x1, y1, x2, y2)),
        |cd AS (
        |  SELECT qid, px, py, x1, y1, x2, y2,
        |    GREATEST(0, LEAST(1,
        |      ((px - x1) * (x2 - x1) + (py - y1) * (y2 - y1)) /
        |      CAST((x2 - x1) * (x2 - x1) + (y2 - y1) * (y2 - y1)
        |        AS DOUBLE))) AS tt
        |  FROM t CROSS JOIN segs),
        |dd AS (
        |  SELECT qid, MIN(sqrt(
        |    (px - (x1 + tt * (x2 - x1))) * (px - (x1 + tt * (x2 - x1))) +
        |    (py - (y1 + tt * (y2 - y1))) * (py - (y1 + tt * (y2 - y1)))))
        |    AS dist
        |  FROM cd GROUP BY qid),
        |cm AS (
        |  SELECT qid, px * c AS sx, py AS sy, x1 * c AS mx1, y1 AS my1,
        |    x2 * c AS mx2, y2 AS my2, rdeg
        |  FROM t CROSS JOIN k CROSS JOIN segs),
        |pm AS (
        |  SELECT qid, sx, sy, mx1, my1, mx2, my2, rdeg,
        |    GREATEST(0, LEAST(1,
        |      ((sx - mx1) * (mx2 - mx1) + (sy - my1) * (my2 - my1)) /
        |      ((mx2 - mx1) * (mx2 - mx1) + (my2 - my1) * (my2 - my1))))
        |      AS tt
        |  FROM cm),
        |dm AS (
        |  SELECT qid, MIN(sqrt(
        |    (sx - (mx1 + tt * (mx2 - mx1))) * (sx - (mx1 + tt * (mx2 - mx1)))
        |    + (sy - (my1 + tt * (my2 - my1)))
        |      * (sy - (my1 + tt * (my2 - my1))))) AS dist,
        |    ANY_VALUE(rdeg) AS rdeg
        |  FROM pm GROUP BY qid),
        |hv AS (
        |  SELECT qid, 2 * 6371.0088 * asin(sqrt(
        |    pow(sin(radians(6 - py) / 2), 2) +
        |    cos(radians(py)) * cos(radians(6.0)) *
        |    pow(sin(radians(20 - px) / 2), 2))) * 1000.0 AS distm
        |  FROM t)
        |SELECT t.qid, CAST(dd.dist < 3.5 AS INT) AS hit_deg,
        |  CAST(dm.dist < dm.rdeg AS INT) AS hit_m,
        |  CAST(FLOOR(hv.distm / 100000) AS BIGINT) AS band_m
        |FROM t JOIN dd USING (qid) JOIN dm USING (qid) JOIN hv USING (qid)
        |ORDER BY qid""".stripMargin,
    "q_geom_envelope_hull" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid,
        |    c_custkey % 50 + 10 AS x, c_custkey % 30 + 20 AS y
        |  FROM customer)
        |SELECT qid,
        |  'POLYGON((' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR)
        |    || ', ' || CAST(x+4 AS VARCHAR) || ' ' || CAST(y AS VARCHAR)
        |    || ', ' || CAST(x+4 AS VARCHAR) || ' ' || CAST(y+5 AS VARCHAR)
        |    || ', ' || CAST(x AS VARCHAR) || ' ' || CAST(y+5 AS VARCHAR)
        |    || ', ' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR)
        |    || '))' AS env,
        |  'POLYGON((' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR)
        |    || ', ' || CAST(x+4 AS VARCHAR) || ' ' || CAST(y+2 AS VARCHAR)
        |    || ', ' || CAST(x+1 AS VARCHAR) || ' ' || CAST(y+5 AS VARCHAR)
        |    || ', ' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR)
        |    || '))' AS hull,
        |  'http://www.opengis.net/def/crs/OGC/1.3/CRS84' AS srid
        |FROM t ORDER BY qid""".stripMargin,
    "q_geom_boundary" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid,
        |    c_custkey % 40 + 5 AS x, c_custkey % 25 + 3 AS y
        |  FROM customer)
        |SELECT qid,
        |  CASE WHEN qid % 2 = 0 THEN
        |    'MULTILINESTRING((' || CAST(x AS VARCHAR) || ' '
        |      || CAST(y AS VARCHAR) || ', ' || CAST(x+10 AS VARCHAR)
        |      || ' ' || CAST(y AS VARCHAR) || ', '
        |      || CAST(x+10 AS VARCHAR) || ' ' || CAST(y+10 AS VARCHAR)
        |      || ', ' || CAST(x AS VARCHAR) || ' ' || CAST(y+10 AS VARCHAR)
        |      || ', ' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR)
        |      || '), (' || CAST(x+2 AS VARCHAR) || ' '
        |      || CAST(y+2 AS VARCHAR) || ', ' || CAST(x+8 AS VARCHAR)
        |      || ' ' || CAST(y+2 AS VARCHAR) || ', '
        |      || CAST(x+8 AS VARCHAR) || ' ' || CAST(y+8 AS VARCHAR)
        |      || ', ' || CAST(x+2 AS VARCHAR) || ' ' || CAST(y+8 AS VARCHAR)
        |      || ', ' || CAST(x+2 AS VARCHAR) || ' ' || CAST(y+2 AS VARCHAR)
        |      || '))'
        |  ELSE
        |    'MULTIPOINT(' || CAST(x AS VARCHAR) || ' ' || CAST(y AS VARCHAR)
        |      || ', ' || CAST(x+5 AS VARCHAR) || ' ' || CAST(y AS VARCHAR)
        |      || ')'
        |  END AS bnd
        |FROM t ORDER BY qid""".stripMargin,
    "q_geom_intersection" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid,
        |    c_custkey % 20 AS x, c_custkey % 12 AS y
        |  FROM customer),
        |i AS (
        |  SELECT qid, GREATEST(x, 10) AS ix1, GREATEST(y, 4) AS iy1,
        |    LEAST(x + 6, 18) AS ix2, LEAST(y + 6, 9) AS iy2
        |  FROM t)
        |SELECT qid,
        |  CASE WHEN ix1 < ix2 AND iy1 < iy2 THEN
        |    'POLYGON((' || CAST(ix1 AS VARCHAR) || ' '
        |      || CAST(iy1 AS VARCHAR) || ', ' || CAST(ix2 AS VARCHAR)
        |      || ' ' || CAST(iy1 AS VARCHAR) || ', '
        |      || CAST(ix2 AS VARCHAR) || ' ' || CAST(iy2 AS VARCHAR)
        |      || ', ' || CAST(ix1 AS VARCHAR) || ' ' || CAST(iy2 AS VARCHAR)
        |      || ', ' || CAST(ix1 AS VARCHAR) || ' ' || CAST(iy1 AS VARCHAR)
        |      || '))'
        |  ELSE 'POLYGON EMPTY' END AS ix
        |FROM i ORDER BY qid""".stripMargin,
    "q_geom_overlay_membership" ->
      """WITH t AS (
        |  SELECT c_custkey AS qid,
        |    c_custkey % 20 AS x, c_custkey % 12 AS y,
        |    CAST((c_custkey * 7) % 24 AS DOUBLE) + 0.5 AS px,
        |    CAST((c_custkey * 11) % 14 AS DOUBLE) + 0.5 AS py
        |  FROM customer),
        |m AS (
        |  SELECT qid,
        |    (px > x AND px < x + 6 AND py > y AND py < y + 6) AS in_a,
        |    (px > 10 AND px < 18 AND py > 4 AND py < 9) AS in_b
        |  FROM t)
        |SELECT qid, CAST(in_a OR in_b AS INT) AS in_u,
        |  CAST(in_a AND NOT in_b AS INT) AS in_d,
        |  CAST(in_a <> in_b AS INT) AS in_s
        |FROM m ORDER BY qid""".stripMargin,
    "q_join_poly_line_intersects" ->
      """WITH roads AS (
        |  SELECT c_custkey AS qid,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 AS x,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 AS y,
        |    c_custkey % 2 = 0 AS horiz
        |  FROM customer),
        |rects AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey * 3) % 8 AS DOUBLE) - 0.005 AS a1,
        |    CAST((n_nationkey * 5) % 8 AS DOUBLE) - 0.005 AS b1
        |  FROM nation),
        |r2 AS (SELECT n_nationkey, a1, b1, a1 + 2.01 AS a2,
        |    b1 + 2.01 AS b2 FROM rects),
        |hits AS (
        |  SELECT n_nationkey, qid FROM roads JOIN r2 ON
        |    CASE WHEN horiz
        |      THEN y > b1 AND y < b2 AND x - 0.7 < a2 AND x + 0.7 > a1
        |      ELSE x > a1 AND x < a2 AND y - 0.7 < b2 AND y + 0.7 > b1
        |    END)
        |SELECT n_nationkey, COUNT(*) AS n_roads,
        |  CAST(SUM(qid) AS BIGINT) AS sum_keys
        |FROM hits GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,
    "q_join_poly_poly_overlaps" ->
      """WITH sq AS (
        |  SELECT c_custkey AS qid,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 - 0.3 AS sx1,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 + 0.3 AS sx2,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 - 0.3 AS sy1,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 + 0.3 AS sy2
        |  FROM customer),
        |rects AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey * 3) % 8 AS DOUBLE) - 0.005 AS a1,
        |    CAST((n_nationkey * 5) % 8 AS DOUBLE) - 0.005 AS b1
        |  FROM nation),
        |r2 AS (SELECT n_nationkey, a1, b1, a1 + 2.01 AS a2,
        |    b1 + 2.01 AS b2 FROM rects),
        |hits AS (
        |  SELECT n_nationkey, qid FROM sq JOIN r2 ON
        |    sx1 < a2 AND sx2 > a1 AND sy1 < b2 AND sy2 > b1
        |    AND NOT (sx1 > a1 AND sx2 < a2 AND sy1 > b1 AND sy2 < b2)
        |    AND NOT (a1 > sx1 AND a2 < sx2 AND b1 > sy1 AND b2 < sy2))
        |SELECT n_nationkey, COUNT(*) AS n_overlaps,
        |  CAST(SUM(qid) AS BIGINT) AS sum_keys
        |FROM hits GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,
    // the automatic-rewrite gate must produce byte-identical results
    // to the manual grid join — one oracle text serves both
    "q_join_relate_auto" ->
      """WITH sq AS (
        |  SELECT c_custkey AS qid,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 - 0.3 AS sx1,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 + 0.3 AS sx2,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 - 0.3 AS sy1,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 + 0.3 AS sy2
        |  FROM customer),
        |rects AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey * 3) % 8 AS DOUBLE) - 0.005 AS a1,
        |    CAST((n_nationkey * 5) % 8 AS DOUBLE) - 0.005 AS b1
        |  FROM nation),
        |r2 AS (SELECT n_nationkey, a1, b1, a1 + 2.01 AS a2,
        |    b1 + 2.01 AS b2 FROM rects),
        |hits AS (
        |  SELECT n_nationkey, qid FROM sq JOIN r2 ON
        |    sx1 < a2 AND sx2 > a1 AND sy1 < b2 AND sy2 > b1
        |    AND NOT (sx1 > a1 AND sx2 < a2 AND sy1 > b1 AND sy2 < b2)
        |    AND NOT (a1 > sx1 AND a2 < sx2 AND b1 > sy1 AND b2 < sy2))
        |SELECT n_nationkey, COUNT(*) AS n_overlaps,
        |  CAST(SUM(qid) AS BIGINT) AS sum_keys
        |FROM hits GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,
    "q_spatial_area_centroid" -> measureOracle._1,
    "q_spatial_polyline_length" -> measureOracle._2,
    "q_join_knn" ->
      s"""WITH q AS (
         |  SELECT c_custkey AS qid,
         |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 AS qx,
         |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 AS qy,
         |    'N' || CAST(c_custkey % 7 AS VARCHAR) AS qname
         |  FROM customer),
         |c AS (
         |  SELECT s_suppkey AS cid,
         |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 AS cx,
         |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 AS cy,
         |    'N' || CAST(s_suppkey % 7 AS VARCHAR) AS cname
         |  FROM supplier),
         |pairs AS (
         |  SELECT qid, cid, qname, cname,
         |    (qx-cx)*(qx-cx) + (qy-cy)*(qy-cy) AS d2
         |  FROM q JOIN c
         |    ON (qx-cx)*(qx-cx) + (qy-cy)*(qy-cy) <= $R2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
         |  FROM pairs),
         |matched AS (
         |  SELECT * FROM ranked WHERE rk <= $K AND qname = cname),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rk) AS brk
         |  FROM matched)
         |SELECT qid AS c_custkey, cid AS s_suppkey, d2, rk AS dist_rank
         |FROM best WHERE brk = 1 ORDER BY c_custkey""".stripMargin,
    // Unbounded nearest-100 (no d2 bound) — DuckDB replays the reference's
    // `<->` LIMIT semantics directly with a cross join (fine at oracle
    // scale); the Spark side must reproduce it from the expanding-ring
    // plan, proving the ring bound never changes the answer.
    "q_join_knn_full" ->
      s"""WITH q AS (
         |  SELECT c_custkey AS qid,
         |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 AS qx,
         |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 AS qy,
         |    'N' || CAST(c_custkey % 7 AS VARCHAR) AS qname
         |  FROM customer),
         |c AS (
         |  SELECT s_suppkey AS cid,
         |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 AS cx,
         |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 AS cy,
         |    'N' || CAST(s_suppkey % 7 AS VARCHAR) AS cname
         |  FROM supplier),
         |pairs AS (
         |  SELECT qid, cid, qname, cname,
         |    (qx-cx)*(qx-cx) + (qy-cy)*(qy-cy) AS d2
         |  FROM q CROSS JOIN c),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
         |  FROM pairs),
         |matched AS (
         |  SELECT * FROM ranked WHERE rk <= $K AND qname = cname),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rk) AS brk
         |  FROM matched)
         |SELECT qid AS c_custkey, cid AS s_suppkey, d2, rk AS dist_rank
         |FROM best WHERE brk = 1 ORDER BY c_custkey""".stripMargin,
    "q_join_multiway_spatial" ->
      """WITH pts AS (
        |  SELECT c_custkey, c_nationkey,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 AS qx,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 AS qy
        |  FROM customer),
        |rects AS (
        |  SELECT n_nationkey, n_regionkey,
        |    CAST((n_nationkey * 3) % 8 AS DOUBLE) AS xmin,
        |    CAST((n_nationkey * 5) % 8 AS DOUBLE) AS ymin,
        |    CAST((n_nationkey * 3) % 8 AS DOUBLE) + 2.0 AS xmax,
        |    CAST((n_nationkey * 5) % 8 AS DOUBLE) + 2.0 AS ymax
        |  FROM nation)
        |SELECT r_name, COUNT(*) AS n,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_keys
        |FROM pts
        |JOIN rects ON c_nationkey = n_nationkey
        |  AND qx >= xmin AND qx < xmax AND qy >= ymin AND qy < ymax
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY r_name ORDER BY r_name""".stripMargin,
    "q_join_spatial_contains" ->
      """WITH pts AS (
        |  SELECT c_custkey AS qid,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 AS qx,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 AS qy
        |  FROM customer),
        |rects AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey * 3) % 8 AS DOUBLE) AS xmin,
        |    CAST((n_nationkey * 5) % 8 AS DOUBLE) AS ymin,
        |    CAST((n_nationkey * 3) % 8 AS DOUBLE) + 2.0 AS xmax,
        |    CAST((n_nationkey * 5) % 8 AS DOUBLE) + 2.0 AS ymax
        |  FROM nation)
        |SELECT n_nationkey, COUNT(*) AS n_pts,
        |  CAST(SUM(qid) AS BIGINT) AS sum_keys,
        |  round(SUM(2 * 6371.0088 * asin(sqrt(
        |    pow(sin(radians(qy - ymin) / 2), 2) +
        |    cos(radians(ymin)) * cos(radians(qy)) *
        |    pow(sin(radians(qx - xmin) / 2), 2)))), 3) AS sum_km
        |FROM rects JOIN pts
        |  ON qx >= xmin AND qx < xmax AND qy >= ymin AND qy < ymax
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,
    "q_spatial_zorder" ->
      s"""WITH g AS (
         |  SELECT c_custkey, (c_custkey * 7919) % 1000 AS gx,
         |    (c_custkey * 104729) % 1000 AS gy
         |  FROM customer),
         |m AS (
         |  SELECT c_custkey, gx, gy,
         |    ${mortonSql("gx", "gy", "//")} AS morton
         |  FROM g)
         |SELECT c_custkey, gx, gy, morton FROM m
         |WHERE morton BETWEEN 262144 AND 393215
         |ORDER BY morton, c_custkey""".stripMargin,
    "q_join_point_in_polygon" ->
      """WITH polys AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey * 7919) % 1000 AS DOUBLE) / 100.0 AS cx,
        |    CAST((n_nationkey * 104729) % 1000 AS DOUBLE) / 100.0 AS cy
        |  FROM nation),
        |v AS (
        |  SELECT n_nationkey, cx, cy,
        |    [cx + 1.5, cx + 0.46, cx - 1.21, cx - 1.21, cx + 0.46] AS vx,
        |    [cy + 0.0, cy + 1.43, cy + 0.88, cy - 0.88, cy - 1.43] AS vy
        |  FROM polys),
        |pts AS (
        |  SELECT c_custkey,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 AS qx,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 AS qy
        |  FROM customer),
        |cand AS (
        |  SELECT * FROM pts JOIN v
        |    ON qx BETWEEN cx - 1.5 AND cx + 1.5
        |   AND qy BETWEEN cy - 1.5 AND cy + 1.5),
        |inside AS (
        |  SELECT n_nationkey, c_custkey FROM cand
        |  WHERE list_sum([CASE WHEN
        |      ((vy[i] > qy) != (vy[CASE WHEN i = 1 THEN 5 ELSE i - 1 END]
        |        > qy)) AND
        |      (qx < (vx[CASE WHEN i = 1 THEN 5 ELSE i - 1 END] - vx[i])
        |        * (qy - vy[i])
        |        / (vy[CASE WHEN i = 1 THEN 5 ELSE i - 1 END] - vy[i])
        |        + vx[i])
        |    THEN 1 ELSE 0 END for i in range(1, 6)]) % 2 = 1)
        |SELECT n_nationkey, COUNT(*) AS n_inside,
        |  CAST(SUM(c_custkey) AS BIGINT) AS sum_keys
        |FROM inside GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,

    "q_join_point_in_polygon_holed" ->
      """WITH pts AS (
        |  SELECT c_custkey AS qid,
        |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 AS qx,
        |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 AS qy
        |  FROM customer),
        |donuts AS (
        |  SELECT n_nationkey,
        |    CAST((n_nationkey * 3) % 8 AS DOUBLE) - 0.005 AS ox1,
        |    CAST((n_nationkey * 5) % 8 AS DOUBLE) - 0.005 AS oy1
        |  FROM nation),
        |d AS (
        |  SELECT n_nationkey, ox1, oy1, ox1 + 2.01 AS ox2,
        |    oy1 + 2.01 AS oy2, ox1 + 0.5 AS hx1, ox1 + 1.51 AS hx2,
        |    oy1 + 0.5 AS hy1, oy1 + 1.51 AS hy2
        |  FROM donuts)
        |SELECT n_nationkey, COUNT(*) AS n_inside,
        |  CAST(SUM(qid) AS BIGINT) AS sum_keys
        |FROM pts JOIN d
        |  ON qx > ox1 AND qx < ox2 AND qy > oy1 AND qy < oy2
        | AND NOT (qx > hx1 AND qx < hx2 AND qy > hy1 AND qy < hy2)
        |GROUP BY n_nationkey ORDER BY n_nationkey""".stripMargin,
    "q_join_knn_linestring" ->
      s"""WITH q AS (
         |  SELECT c_custkey AS qid,
         |    CAST((c_custkey * 7919) % 1000 AS DOUBLE) / 100.0 AS qx,
         |    CAST((c_custkey * 104729) % 1000 AS DOUBLE) / 100.0 AS qy,
         |    'N' || CAST(c_custkey % 7 AS VARCHAR) AS qname
         |  FROM customer),
         |roads AS (
         |  SELECT s_suppkey AS cid,
         |    CAST((s_suppkey * 7919) % 1000 AS DOUBLE) / 100.0 AS x0,
         |    CAST((s_suppkey * 104729) % 1000 AS DOUBLE) / 100.0 AS y0,
         |    'N' || CAST(s_suppkey % 7 AS VARCHAR) AS cname
         |  FROM supplier),
         |r AS (
         |  SELECT cid, cname, x0, y0, x0 + 0.6 AS x1, y0 + 0.35 AS y1,
         |    x0 + 1.1 AS x2, y0 - 0.25 AS y2
         |  FROM roads),
         |pairs AS (
         |  SELECT qid, cid, qname, cname,
         |    least(${psdSql("qx", "qy", "x0", "y0", "x1", "y1")},
         |      ${psdSql("qx", "qy", "x1", "y1", "x2", "y2")}) AS d2
         |  FROM q CROSS JOIN r),
         |close_pairs AS (SELECT * FROM pairs WHERE d2 <= $R2),
         |ranked AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY d2, cid) AS rk
         |  FROM close_pairs),
         |matched AS (
         |  SELECT * FROM ranked WHERE rk <= $K AND qname = cname),
         |best AS (
         |  SELECT *, row_number() OVER (PARTITION BY qid ORDER BY rk) AS brk
         |  FROM matched)
         |SELECT qid AS c_custkey, cid AS s_suppkey, d2, rk AS dist_rank
         |FROM best WHERE brk = 1 ORDER BY c_custkey""".stripMargin,
    "q_spatial_cluster_cells" ->
      """WITH RECURSIVE pts AS (
        |  SELECT
        |    CAST(floor(CAST((c_custkey * 7919) % 1000 AS DOUBLE)
        |      / 100.0 / 0.5) AS BIGINT) AS cx,
        |    CAST(floor(CAST((c_custkey * 104729) % 1000 AS DOUBLE)
        |      / 100.0 / 0.5) AS BIGINT) AS cy
        |  FROM customer),
        |dense AS (
        |  SELECT cx, cy, COUNT(*) AS n, cx * 1000 + cy AS cid
        |  FROM pts GROUP BY cx, cy HAVING COUNT(*) >= 5),
        |nb AS (
        |  SELECT a.cid AS ca, b.cid AS cb
        |  FROM dense a JOIN dense b
        |    ON abs(a.cx - b.cx) <= 1 AND abs(a.cy - b.cy) <= 1),
        |reach(src, dst) AS (
        |  SELECT cid, cid FROM dense
        |  UNION
        |  SELECT r.src, nb.cb FROM reach r JOIN nb ON r.dst = nb.ca),
        |lab AS (SELECT src AS cid, min(dst) AS comp FROM reach
        |        GROUP BY src)
        |SELECT comp, COUNT(*) AS n_cells, CAST(SUM(n) AS BIGINT) AS n_pts
        |FROM lab JOIN dense USING (cid)
        |GROUP BY comp ORDER BY comp""".stripMargin,

    "q_spatial_density" ->
      """WITH pts AS (
        |  SELECT
        |    CAST(floor(CAST((c_custkey * 7919) % 1000 AS DOUBLE)
        |      / 100.0 / 0.5) AS BIGINT) AS cell_x,
        |    CAST(floor(CAST((c_custkey * 104729) % 1000 AS DOUBLE)
        |      / 100.0 / 0.5) AS BIGINT) AS cell_y
        |  FROM customer)
        |SELECT cell_x, cell_y, COUNT(*) AS n_pts
        |FROM pts GROUP BY cell_x, cell_y
        |ORDER BY n_pts DESC, cell_x, cell_y LIMIT 15""".stripMargin
  )
}
