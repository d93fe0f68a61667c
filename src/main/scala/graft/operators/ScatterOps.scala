package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft.table

/** Scattered 2-D interpolation (scipy `griddata(method="linear",
  * rescale=True)`) — the reference's horizontal regridding kernel
  * (operator/interpolator/InterpolatorCore.py:28-46, called with
  * `Coverage.HORIZONTAL_INTERPOLATION_METHOD = "linear"`,
  * coverage/Coverage.py:42): source grid cells are treated as a point
  * SCATTER, Delaunay-triangulated (on axis-rescaled coordinates, the
  * `rescale=True` contract), and every target point gets the
  * barycentric-linear value of its containing triangle, or `fill`
  * outside the convex hull (InterpolatorCore.py:41-46).
  *
  * Spark-first shape — the two sides are wildly asymmetric and the
  * design exploits it:
  *  - The SCATTER (a model's source grid / station set) is the small
  *    side: collected to the driver, triangulated once with a pure-Scala
  *    Bowyer-Watson (no geometry library), and shipped to executors as
  *    a broadcast cell→triangles index (a uniform grid over the hull
  *    bbox, ~2 triangles/cell). `require`d ≤ `maxPoints` — the same
  *    contract as every broadcast dimension in this repo.
  *  - The PROBES (the 100-TB side) never shuffle: cell assignment is
  *    column arithmetic, candidate lookup is a BroadcastHashJoin, and
  *    triangle selection + barycentric evaluation are Column algebra
  *    over the (bounded, id-sorted) candidate array. Plan-asserted
  *    shuffle-free in ScatterSpec.
  *
  * The candidate filter uses `functions.filter` (a higher-order
  * function, evaluated interpreted in Spark 4) over ≤ a few triangles
  * per cell — chosen over the codegen'd alternative (explode + groupBy
  * min_by) because that one would SHUFFLE the probe side, and at the
  * target scale a bounded interpreted loop per row beats a petabyte
  * shuffle outright.
  *
  * Numerics: triangle selection tests the three barycentric numerators
  * (cross products) against ≥ 0 on CCW-normalized triangles; the value
  * is their normalized combination. Barycentric-linear interpolation
  * reproduces affine fields exactly and is invariant to the rescale
  * (spec'd); with dyadic-rational inputs every term is exact in a
  * double, which is what makes the q67 gate an exact hash match.
  */
object ScatterOps {

  /** One triangle of the scatter's Delaunay triangulation, in ORIGINAL
    * (un-rescaled) coordinates, vertices CCW, with vertex values. */
  final case class Tri(id: Int, ax: Double, ay: Double, bx: Double, by: Double,
      cx: Double, cy: Double, va: Double, vb: Double, vc: Double)
  final case class CellTris(_cellx: Long, _celly: Long, _tris: Seq[Tri])

  /** Bowyer-Watson Delaunay over points rescaled to the unit square
    * (scipy's `rescale=True`: each axis divided by its extent, so
    * anisotropic grids triangulate the way the reference's do).
    * Returns CCW vertex-index triples. O(n·T) ≈ O(n²) — the scatter is
    * the small side by contract. Cocircular ties resolve to "outside"
    * (a valid, if non-canonical, Delaunay triangulation). */
  def delaunay(xs: Array[Double], ys: Array[Double]): Array[(Int, Int, Int)] = {
    val n = xs.length
    require(n >= 3, s"scattered interpolation needs >= 3 source points, got $n")
    val minx = xs.min; val miny = ys.min
    val sx = math.max(xs.max - minx, java.lang.Double.MIN_NORMAL)
    val sy = math.max(ys.max - miny, java.lang.Double.MIN_NORMAL)
    val px = new Array[Double](n + 3); val py = new Array[Double](n + 3)
    var i = 0
    while (i < n) { px(i) = (xs(i) - minx) / sx; py(i) = (ys(i) - miny) / sy; i += 1 }
    // super-triangle far outside the unit square (hull-adjacent
    // circumcircles stay tiny relative to it)
    px(n) = -1e3; py(n) = -1e3; px(n + 1) = 1e3; py(n + 1) = -1e3
    px(n + 2) = 0.0; py(n + 2) = 1e3

    @inline def inCircum(a: Int, b: Int, c: Int, p: Int): Boolean = {
      // det > 0 <=> p strictly inside the circumcircle of CCW (a,b,c)
      val ax = px(a) - px(p); val ay = py(a) - py(p)
      val bx = px(b) - px(p); val by = py(b) - py(p)
      val cx = px(c) - px(p); val cy = py(c) - py(p)
      (ax * ax + ay * ay) * (bx * cy - by * cx) -
        (bx * bx + by * by) * (ax * cy - ay * cx) +
        (cx * cx + cy * cy) * (ax * by - ay * bx) > 0
    }

    var tris = Array((n, n + 1, n + 2))
    i = 0
    while (i < n) {
      val bad = tris.filter { case (a, b, c) => inCircum(a, b, c, i) }
      if (bad.nonEmpty) {
        // boundary of the bad-triangle cavity = directed edges whose
        // reverse is absent (internal edges pair up across CCW tris)
        val edges = bad.flatMap { case (a, b, c) => Seq((a, b), (b, c), (c, a)) }
        val eset = edges.toSet
        val boundary = edges.filter { case (a, b) => !eset.contains((b, a)) }
        val badSet = bad.toSet
        tris = tris.filterNot(badSet.contains) ++
          boundary.map { case (a, b) => (a, b, i) } // (a,b) kept CCW => (a,b,i) CCW
      }
      i += 1
    }
    tris.filter { case (a, b, c) => a < n && b < n && c < n }
  }

  /** Interpolate `vCol` from the scatter `points(xCol,yCol,vCol)` onto
    * `probes(qxCol,qyCol)`: appends `outCol` = barycentric-linear value
    * of the containing Delaunay triangle, `fill` outside the hull
    * (reference float fill 9.96921e+36, InterpolatorCore.py:44). The
    * probe side stays map-only — see the object scaladoc. */
  def scatteredInterp2d(points: DataFrame, xCol: String, yCol: String, vCol: String,
      probes: DataFrame, qxCol: String, qyCol: String, outCol: String = "interp",
      fill: Double = 9.96921e36, maxPoints: Int = 50000): DataFrame = {
    val spark = points.sparkSession
    import spark.implicits._
    val rows = points.select(col(xCol).cast("double"), col(yCol).cast("double"),
      col(vCol).cast("double")).collect()
    require(rows.length <= maxPoints,
      s"scatter side has ${rows.length} points > maxPoints=$maxPoints — " +
        "the scatter is the broadcast (small) side; invert the call or raise maxPoints")
    val xs = rows.map(_.getDouble(0)); val ys = rows.map(_.getDouble(1))
    val vs = rows.map(_.getDouble(2))
    val tris = delaunay(xs, ys).zipWithIndex.map { case ((a, b0, c0), id) =>
      // CCW holds by construction (orientation survives the positive
      // per-axis rescale); normalize defensively so det > 0 always
      val ccw = (xs(b0) - xs(a)) * (ys(c0) - ys(a)) -
        (ys(b0) - ys(a)) * (xs(c0) - xs(a)) > 0
      val (b, c) = if (ccw) (b0, c0) else (c0, b0)
      Tri(id, xs(a), ys(a), xs(b), ys(b), xs(c), ys(c), vs(a), vs(b), vs(c))
    }

    // uniform cell index over the hull bbox, ~2 triangles per cell
    val minx = xs.min; val miny = ys.min
    val g = math.max(1, math.ceil(math.sqrt(math.max(tris.length, 1) / 2.0)).toInt)
    val cw = math.max((xs.max - minx) / g, java.lang.Double.MIN_NORMAL)
    val ch = math.max((ys.max - miny) / g, java.lang.Double.MIN_NORMAL)
    val cells = tris
      .flatMap { t =>
        val x0 = math.floor((math.min(t.ax, math.min(t.bx, t.cx)) - minx) / cw).toLong
        val x1 = math.floor((math.max(t.ax, math.max(t.bx, t.cx)) - minx) / cw).toLong
        val y0 = math.floor((math.min(t.ay, math.min(t.by, t.cy)) - miny) / ch).toLong
        val y1 = math.floor((math.max(t.ay, math.max(t.by, t.cy)) - miny) / ch).toLong
        for (cx <- x0 to x1; cy <- y0 to y1) yield ((cx, cy), t)
      }
      .groupBy(_._1).map { case ((cx, cy), ts) =>
        CellTris(cx, cy, ts.map(_._2).sortBy(_.id).toSeq)
      }.toSeq.toDF()

    val qx = col(qxCol).cast("double"); val qy = col(qyCol).cast("double")
    // barycentric numerator: cross((p1-q), (p2-q)) — ≥ 0 for all three
    // edges of a CCW triangle <=> q inside (edges inclusive)
    def num(p1x: Column, p1y: Column, p2x: Column, p2y: Column): Column =
      (p1x - qx) * (p2y - qy) - (p1y - qy) * (p2x - qx)
    def inside(t: Column): Column =
      num(t("bx"), t("by"), t("cx"), t("cy")) >= 0 &&
        num(t("cx"), t("cy"), t("ax"), t("ay")) >= 0 &&
        num(t("ax"), t("ay"), t("bx"), t("by")) >= 0

    val withCell = probes
      .withColumn("_cellx", floor((qx - lit(minx)) / lit(cw)).cast("long"))
      .withColumn("_celly", floor((qy - lit(miny)) / lit(ch)).cast("long"))
    // try_element_at, NOT element_at: under Spark 4's default ANSI mode
    // element_at(empty, 1) throws — and the filtered array IS empty for
    // a probe outside the hull that still lands in a populated cell
    // (common just past the hull edge). try_element_at yields null there
    // and the coalesce below applies the documented `fill`.
    val t = try_element_at(filter(col("_tris"), inside _), lit(1))
    val det = (t("bx") - t("ax")) * (t("cy") - t("ay")) -
      (t("by") - t("ay")) * (t("cx") - t("ax"))
    val value = (num(t("bx"), t("by"), t("cx"), t("cy")) * t("va") +
      num(t("cx"), t("cy"), t("ax"), t("ay")) * t("vb") +
      num(t("ax"), t("ay"), t("bx"), t("by")) * t("vc")) / det
    withCell
      .join(broadcast(cells), Seq("_cellx", "_celly"), "left")
      .withColumn(outCol, coalesce(value, lit(fill)))
      .drop("_cellx", "_celly", "_tris")
  }

  /** q67: griddata(linear, rescale=True) over an events-derived scatter
    * whose Delaunay triangulation is PROVABLY the unique zigzag strip
    * (two rows of points offset by half a spacing: every circumcircle
    * excludes all other points with margin ≥ h², h = 1/64 after
    * rescale), so DuckDB can evaluate the same piecewise-linear field
    * in closed form — coordinates and probe fractions are dyadic
    * rationals and vertex values integers, making every barycentric
    * term EXACT in a double: a full hash gate on a float-heavy
    * interpolation, like q64/q66. The engine still runs the fully
    * generic path (Bowyer-Watson + cell index + broadcast join). */
  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q67_griddata" -> ((s, dir) => {
      val ev = table(s, s"$dir/events.parquet")
      // scatter: slots 0..64 -> bottom row (x=slot, y=0), 65..128 ->
      // top row (x=slot-65+0.5, y=1); integer values from the table
      val pts = ev.groupBy((col("event_id") % 129).as("slot"))
        .agg((sum(col("event_id")) % 1000).cast("double").as("v"))
        .select(
          when(col("slot") <= 64, col("slot").cast("double"))
            .otherwise((col("slot") - 65).cast("double") + 0.5).as("x"),
          when(col("slot") <= 64, 0.0).otherwise(1.0).as("y"),
          col("v"))
      // probes: strictly interior, dyadic fractions (see oracle)
      val probes = ev.select((col("event_id") % 992).as("m")).distinct()
        .withColumn("_j", (col("m") % 62) + 1)
        .withColumn("qx", col("_j").cast("double") + 0.5 +
          (expr("m div 62") % 2).cast("double") * 0.5)
        .withColumn("qy", ((expr("m div 124") % 8) + 1).cast("double") / 32.0)
        .drop("_j")
      scatteredInterp2d(pts, "x", "y", "v", probes, "qx", "qy", outCol = "gv")
        .select(col("m"), col("gv"))
    })
  )

  val oracles: Map[String, String] = Map(
    // the strip's Delaunay in closed form: probe (qx,qy) lies in bottom
    // triangle j = floor(qx - qy/2) when qx + qy/2 <= j+1 (vertices
    // (j,0),(j+1,0),(j+0.5,1)), else in top triangle j (vertices
    // (j+0.5,1),(j+1.5,1),(j+1,0)); barycentric weights are the linear
    // forms below — every term dyadic-exact, so the doubles match the
    // engine's generic cross-product evaluation bit-for-bit
    "q67_griddata" ->
      """WITH pts AS (
           SELECT event_id % 129 AS slot,
                  CAST(CAST(sum(event_id) AS BIGINT) % 1000 AS DOUBLE) AS v
           FROM events GROUP BY 1),
         bot AS (SELECT slot AS i, v FROM pts WHERE slot <= 64),
         top AS (SELECT slot - 65 AS i, v FROM pts WHERE slot >= 65),
         probes AS (
           SELECT m, CAST((m % 62) + 1 AS DOUBLE) + 0.5
                       + CAST((m // 62) % 2 AS DOUBLE) * 0.5 AS qx,
                  CAST(((m // 124) % 8) + 1 AS DOUBLE) / 32.0 AS qy
           FROM (SELECT DISTINCT event_id % 992 AS m FROM events)),
         loc AS (
           SELECT m, qx, qy, CAST(floor(qx - qy/2) AS BIGINT) AS j,
                  (qx + qy/2 <= floor(qx - qy/2) + 1) AS isbot
           FROM probes)
         SELECT l.m,
           CASE WHEN l.isbot THEN
             b0.v * ((CAST(l.j AS DOUBLE) + 1 - l.qx) - 0.5 * l.qy) +
             b1.v * ((l.qx - CAST(l.j AS DOUBLE)) - 0.5 * l.qy) +
             t0.v * l.qy
           ELSE
             t0.v * ((CAST(l.j AS DOUBLE) + 1.5 - l.qx) - 0.5 * (1 - l.qy)) +
             t1.v * ((l.qx - CAST(l.j AS DOUBLE) - 0.5) - 0.5 * (1 - l.qy)) +
             b1.v * (1 - l.qy)
           END AS gv
         FROM loc l
         JOIN bot b0 ON b0.i = l.j      JOIN bot b1 ON b1.i = l.j + 1
         JOIN top t0 ON t0.i = l.j      JOIN top t1 ON t1.i = l.j + 1"""
  )
}
