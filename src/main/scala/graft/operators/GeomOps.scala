package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import graft.Graft.table

/** Exact rectilinear (axis-aligned) polygon union — the pure-Scala
  * re-expression of the reference's flood-polygon pipeline
  * (coverage/io/shape/FloodingPolygonWriter.py:85-118): flooded cells
  * are buffered to SQUARES (`buffer(pixel/2, cap_style=3)` — axis-
  * aligned by construction), unioned in parallel chunks (`Pool.map
  * (union, chunks)`) and merged (`unary_union`). With every geometry an
  * axis-aligned rectangle the union needs no geometry library: a
  * sweep-line over x-edges with y-interval union per slab computes the
  * EXACT union area, and a typed two-phase `Aggregator` reproduces the
  * chunk-then-merge shape Spark-natively (partial aggregation per input
  * partition, merge per group).
  *
  * Scale design (100-TB): the plane is cut into TILES and every square
  * is clipped to the tiles it touches, so tile unions are disjoint by
  * construction and their areas ADD exactly — the union becomes an
  * ordinary two-level hash aggregate, shuffled on (class, tile), with
  * per-task state bounded by one tile's rectangles (never the class's
  * whole footprint). Degenerate zero-width clips are dropped before the
  * shuffle.
  */
object GeomOps {

  final case class Rect(x1: Double, y1: Double, x2: Double, y2: Double)
  final case class RectBuf(rects: Seq[Rect])

  /** Exact union area of axis-aligned rectangles: coordinate-compressed
    * x-slabs, y-interval union per slab. O(n^2) in the rectangles of ONE
    * TILE (bounded), exact for dyadic-rational coordinates (every edge/
    * area term stays exactly representable — the DuckDB oracle computes
    * bit-identical doubles). */
  def sweepArea(rs: Seq[Rect]): Double = {
    if (rs.isEmpty) return 0.0
    val xs = rs.flatMap(r => Seq(r.x1, r.x2)).distinct.sorted
    var area = 0.0
    var i = 0
    while (i < xs.length - 1) {
      val a = xs(i); val b = xs(i + 1)
      if (b > a) {
        val ys = rs.iterator.filter(r => r.x1 <= a && r.x2 >= b)
          .map(r => (r.y1, r.y2)).toArray.sortBy(identity)
        var cover = 0.0
        var curLo = 0.0; var curHi = 0.0; var open = false
        ys.foreach { case (lo, hi) =>
          if (!open) { curLo = lo; curHi = hi; open = true }
          else if (lo > curHi) { cover += curHi - curLo; curLo = lo; curHi = hi }
          else if (hi > curHi) curHi = hi
        }
        if (open) cover += curHi - curLo
        area += (b - a) * cover
      }
      i += 1
    }
    area
  }

  /** Two-phase union-area aggregator: `reduce` collects a partition's
    * rectangles (the reference's per-chunk union list), `merge` joins
    * chunk lists (`unary_union` of chunk unions), `finish` sweeps the
    * exact area. Associative/commutative by construction — spec'd. */
  class RectUnionAreaAgg extends Aggregator[Rect, RectBuf, Double] {
    override def zero: RectBuf = RectBuf(Nil)
    override def reduce(b: RectBuf, a: Rect): RectBuf = RectBuf(a +: b.rects)
    override def merge(b1: RectBuf, b2: RectBuf): RectBuf = RectBuf(b1.rects ++ b2.rects)
    override def finish(b: RectBuf): Double = sweepArea(b.rects)
    override def bufferEncoder: Encoder[RectBuf] = Encoders.product[RectBuf]
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Union AREA per class of the squares obtained by buffering each
    * cell center by `half` (the reference's `buffer(pixel_size/2,
    * cap_style=3)`), computed tile-parallel. Input: one row per flooded
    * cell with (classCol, xCol, yCol). Output: (flood_class,
    * flooded_area), area rounded to 6 decimals. */
  def floodUnionArea(cells: DataFrame, classCol: String, xCol: String, yCol: String,
      half: Double = 0.75, tile: Double = 32.0): DataFrame = {
    val T = lit(tile)
    val rects = cells.select(col(classCol).as("flood_class"),
      (col(xCol) - half).as("x1"), (col(xCol) + half).as("x2"),
      (col(yCol) - half).as("y1"), (col(yCol) + half).as("y2"))
    // a square spans at most ceil(2*half/tile)+1 tiles per axis (2 here);
    // clipping to the tile grid makes tile unions disjoint, so areas add
    val tiled = rects
      .withColumn("tx", explode(sequence(floor(col("x1") / T), floor(col("x2") / T))))
      .withColumn("ty", explode(sequence(floor(col("y1") / T), floor(col("y2") / T))))
      .select(col("flood_class"), col("tx"), col("ty"),
        greatest(col("x1"), col("tx") * T).as("cx1"),
        least(col("x2"), (col("tx") + 1) * T).as("cx2"),
        greatest(col("y1"), col("ty") * T).as("cy1"),
        least(col("y2"), (col("ty") + 1) * T).as("cy2"))
      .filter(col("cx2") > col("cx1") && col("cy2") > col("cy1"))
    val area = udaf(new RectUnionAreaAgg(), Encoders.product[Rect])
    tiled.groupBy(col("flood_class"), col("tx"), col("ty"))
      .agg(area(col("cx1"), col("cy1"), col("cx2"), col("cy2")).as("tile_area"))
      .groupBy(col("flood_class"))
      .agg(round(sum(col("tile_area")), 6).as("flooded_area"))
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // the reference's per-threshold flood classification
    // (FloodingPolygonWriter.py:77-95: threshold-bin the field, buffer
    // cells to squares, union) over the events table: class from value
    // bins, cell centers from event_id on a 97 x 89 grid — neighbors
    // overlap (spacing 1 < 2*half), so the union is a real one
    "q66_flood_union" -> ((s, dir) => {
      val cells = table(s, s"$dir/events.parquet")
        .filter(col("value") > 1.0)
        .select(
          when(col("value") > 150.0, 3).when(col("value") > 50.0, 2).otherwise(1)
            .as("flood_class"),
          (col("event_id") % 97).cast("double").as("x"),
          expr("(event_id div 97) % 89").cast("double").as("y"))
      floodUnionArea(cells, "flood_class", "x", "y")
    })
  )

  val oracles: Map[String, String] = Map(
    // identical algebra, whole-class sweep (no tiling): x-slabs between
    // consecutive edges, classic gaps-and-islands y-interval union per
    // slab; every coordinate is a dyadic rational so both engines sum
    // exactly the same doubles. `cover` is DISTINCT so (y1, y2) orders a
    // slab totally: with tied rows the islands and grp windows may order
    // them differently and hand a row to the previous island
    "q66_flood_union" ->
      """WITH cells AS (
           SELECT CASE WHEN value > 150.0 THEN 3 WHEN value > 50.0 THEN 2
                       ELSE 1 END AS flood_class,
                  CAST(event_id % 97 AS DOUBLE) AS x,
                  CAST((event_id // 97) % 89 AS DOUBLE) AS y
           FROM events WHERE value > 1.0),
         rects AS (
           SELECT flood_class, x - 0.75 AS x1, x + 0.75 AS x2,
                  y - 0.75 AS y1, y + 0.75 AS y2 FROM cells),
         edges AS (
           SELECT flood_class, x1 AS xe FROM rects
           UNION SELECT flood_class, x2 FROM rects),
         slabs AS (
           SELECT flood_class, xe AS sa,
                  lead(xe) OVER (PARTITION BY flood_class ORDER BY xe) AS sb
           FROM edges),
         cover AS (
           SELECT DISTINCT s.flood_class, s.sa, s.sb, r.y1, r.y2
           FROM slabs s JOIN rects r
             ON r.flood_class = s.flood_class AND r.x1 <= s.sa AND r.x2 >= s.sb
           WHERE s.sb IS NOT NULL),
         islands AS (
           SELECT flood_class, sa, sb, y1, y2,
             CASE WHEN y1 > max(y2) OVER (PARTITION BY flood_class, sa
               ORDER BY y1, y2 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               THEN 1 ELSE 0 END AS newi
           FROM cover),
         grp AS (
           SELECT flood_class, sa, sb, y1, y2,
             sum(newi) OVER (PARTITION BY flood_class, sa ORDER BY y1, y2
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS gid
           FROM islands),
         ylen AS (
           SELECT flood_class, sa, sb, gid, max(y2) - min(y1) AS cov
           FROM grp GROUP BY flood_class, sa, sb, gid)
         SELECT flood_class, round(sum((sb - sa) * cov), 6) AS flooded_area
         FROM ylen GROUP BY flood_class"""
  )
}
