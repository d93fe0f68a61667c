package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Graft._

/** Grid stencil / vector-field operators and target-axis interpolation —
  * the last ungated SURVEY.md §2 rows (round-2 verdict "what's missing"
  * #1-3):
  *
  *  - q54: LINEAR interpolation at target-axis probe times (reference
  *    operator/interpolator/InterpolatorCore.py:87-130 method="linear"
  *    evaluated at the fixed `pandas.date_range` target axis of
  *    TimeCoverage.py:94-97) — [[graft.Graft.GraftOps.interpolateLinearAt]]:
  *    bracketing prev/next event per probe via ONE union + two ordered
  *    windows (single shuffle), null outside the brackets.
  *  - q55: 2-D Arakawa-C destagger stencil (reference coverage/io/netcdf/
  *    symphonie/SYMPHONIEReader.py:143-207: cell-center value = half-sum
  *    of the two staggered neighbors, duplicating the edge value where
  *    the neighbor is missing) — a self equi-join on the neighbor offset
  *    (y, x+1) / (y+1, x): candidates are exactly one row per neighbor,
  *    never a spatial product, and the join key is the grid index so it
  *    broadcasts or co-partitions cleanly at any grid size.
  *  - q56: vector rotation by a per-cell grid angle (SYMPHONIEReader.py:
  *    209-260, rotation matrix at :122-141): (u,v) -> (u cos a + v sin a,
  *    -u sin a + v cos a). Pure Column algebra, codegen'd end-to-end.
  */
object StencilOps {

  val GridW = 64

  /** Synthetic staggered grid over `part`: cell (x, y) with
    * deterministic staggered velocity components u, v and a per-cell
    * rotation angle. The SAME derivation is expressed in the DuckDB
    * oracles (doubles throughout — DuckDB numeric literals are DECIMAL
    * unless cast). */
  private def staggeredGrid(s: SparkSession, dir: String): DataFrame =
    table(s, s"$dir/part.parquet")
      .select(col("p_partkey").as("cell_id"),
        (col("p_partkey") % GridW).as("x"),
        floor(col("p_partkey") / lit(GridW.toDouble)).cast("long").as("y"))
      .withColumn("u", sin(col("x") * 0.7 + col("y") * 0.3))
      .withColumn("v", cos(col("x") * 0.2 - col("y") * 0.5))

  private val gridSql =
    s"""SELECT p_partkey AS cell_id, p_partkey % $GridW AS x,
          CAST(floor(p_partkey / CAST($GridW.0 AS DOUBLE)) AS BIGINT) AS y
        FROM part"""

  private val uvSql =
    s"""SELECT cell_id, x, y,
          sin(x * CAST(0.7 AS DOUBLE) + y * CAST(0.3 AS DOUBLE)) AS u,
          cos(x * CAST(0.2 AS DOUBLE) - y * CAST(0.5 AS DOUBLE)) AS v
        FROM g"""

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.9 linear interpolation AT an arbitrary probe grid: bracketing
    // neighbors per probe, single-shuffle union+window both directions
    "q54_interp_linear_axis" -> ((s, dir) => {
      // unique (key, ts) series: keep-first by event_id (same reduction
      // the reference's duplicate-timestep drop applies). round-7: as a
      // min(struct(event_id, value)) aggregate — lexicographically ≡ the
      // window keep-first pick (event_id is unique) — so the reduction
      // gets map-side partial aggregation instead of a full shuffle+sort
      // of every event (guide §2.3).
      val ev = table(s, s"$dir/events.parquet")
        .groupBy(col("user_id"), col("ts"))
        .agg(min(struct(col("event_id"), col("value"))).as("_f"))
        .select(col("user_id"), col("ts"), col("_f.value").as("value"))
      Relational.probeGrid(s, dir)
        .interpolateLinearAt(ev, "user_id", "probe_ts", "ts", "value")
        .select(col("user_id"), col("probe_ts"),
          round(col("interp_value"), 6).as("interp_value"))
    }),

    // §2.9 CUBIC interpolation at the same probe grid (reference
    // InterpolatorCore.py:60-64 kind="cubic" as a local Hermite /
    // non-uniform Catmull-Rom segment — see Graft.interpolateCubicAt).
    // Exact-gated: both engines evaluate the identical double formula.
    "q64_interp_cubic_axis" -> ((s, dir) => {
      // same agg-based keep-first as q54 (round-7)
      val ev = table(s, s"$dir/events.parquet")
        .groupBy(col("user_id"), col("ts"))
        .agg(min(struct(col("event_id"), col("value"))).as("_f"))
        .select(col("user_id"), col("ts"), col("_f.value").as("value"))
      Relational.probeGrid(s, dir)
        .interpolateCubicAt(ev, "user_id", "probe_ts", "ts", "value")
        .select(col("user_id"), col("probe_ts"),
          round(col("interp_value"), 6).as("interp_value"))
    }),

    // §2.6 2-D destagger stencil: half-sum of staggered neighbors with
    // edge duplication, as neighbor-offset equi-joins
    "q55_destagger_2d" -> ((s, dir) => {
      val g = staggeredGrid(s, dir)
      val un = g.select(col("y"), (col("x") - 1).as("x"), col("u").as("_u_xp"))
      val vn = g.select((col("y") - 1).as("y"), col("x"), col("v").as("_v_yp"))
      g.join(un, Seq("y", "x"), "left")
        .join(vn, Seq("y", "x"), "left")
        .select(col("cell_id"), col("x"), col("y"),
          round((col("u") + coalesce(col("_u_xp"), col("u"))) * 0.5, 6).as("u_destag"),
          round((col("v") + coalesce(col("_v_yp"), col("v"))) * 0.5, 6).as("v_destag"))
    }),

    // §2.9 rotate (u,v) by the per-cell grid angle
    "q56_vector_rotate" -> ((s, dir) => {
      val a: Column = col("x") * 0.05 - col("y") * 0.03
      staggeredGrid(s, dir)
        .select(col("cell_id"), col("x"), col("y"),
          round(col("u") * cos(a) + col("v") * sin(a), 6).as("u_rot"),
          round(-col("u") * sin(a) + col("v") * cos(a), 6).as("v_rot"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q54_interp_linear_axis" ->
      """WITH probes AS (
           SELECT user_id, probe_ts
           FROM (SELECT DISTINCT user_id FROM events),
             LATERAL unnest(generate_series(TIMESTAMP '2024-01-02',
               TIMESTAMP '2024-01-30', INTERVAL 6 HOUR)) AS t(probe_ts)),
         ev AS (
           SELECT user_id, ts, value FROM (
             SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
             FROM events)
           WHERE rn = 1),
         prev AS (
           SELECT p.user_id, p.probe_ts, e.ts AS pt, e.value AS pv
           FROM probes p ASOF LEFT JOIN ev e
             ON p.user_id = e.user_id AND p.probe_ts >= e.ts),
         nxt AS (
           SELECT p.user_id, p.probe_ts, e.ts AS nt, e.value AS nv
           FROM probes p ASOF LEFT JOIN ev e
             ON p.user_id = e.user_id AND p.probe_ts < e.ts)
         SELECT pr.user_id, pr.probe_ts,
           round(CASE WHEN pr.pt = pr.probe_ts THEN pr.pv
                 ELSE pr.pv + (nx.nv - pr.pv)
                   * (epoch_us(pr.probe_ts) - epoch_us(pr.pt))
                   / (epoch_us(nx.nt) - epoch_us(pr.pt)) END, 6) AS interp_value
         FROM prev pr JOIN nxt nx
           ON nx.user_id = pr.user_id AND nx.probe_ts = pr.probe_ts""",
    "q64_interp_cubic_axis" ->
      """WITH probes AS (
           SELECT user_id, probe_ts
           FROM (SELECT DISTINCT user_id FROM events),
             LATERAL unnest(generate_series(TIMESTAMP '2024-01-02',
               TIMESTAMP '2024-01-30', INTERVAL 6 HOUR)) AS t(probe_ts)),
         ev AS (
           SELECT user_id, ts, value FROM (
             SELECT user_id, ts, value,
               row_number() OVER (PARTITION BY user_id, ts ORDER BY event_id) AS rn
             FROM events)
           WHERE rn = 1),
         seg AS (
           SELECT user_id, ts, value,
             lag(ts) OVER w AS pmt, lag(value) OVER w AS pmv,
             lead(ts) OVER w AS n1t, lead(value) OVER w AS n1v,
             lead(ts, 2) OVER w AS n2t, lead(value, 2) OVER w AS n2v
           FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts)),
         j AS (
           SELECT p.user_id, p.probe_ts, e.ts, e.value,
             e.pmt, e.pmv, e.n1t, e.n1v, e.n2t, e.n2v
           FROM probes p ASOF LEFT JOIN seg e
             ON p.user_id = e.user_id AND p.probe_ts >= e.ts),
         k AS (
           SELECT *,
             CAST(epoch_us(n1t) - epoch_us(ts) AS DOUBLE) AS h,
             CAST(epoch_us(probe_ts) - epoch_us(ts) AS DOUBLE)
               / CAST(epoch_us(n1t) - epoch_us(ts) AS DOUBLE) AS s
           FROM j),
         m AS (
           SELECT *, s * s AS s2, s * s * s AS s3,
             CASE WHEN pmt IS NOT NULL
                  THEN (n1v - pmv) / CAST(epoch_us(n1t) - epoch_us(pmt) AS DOUBLE)
                  ELSE (n1v - value) / h END AS m0,
             CASE WHEN n2t IS NOT NULL
                  THEN (n2v - value) / CAST(epoch_us(n2t) - epoch_us(ts) AS DOUBLE)
                  ELSE (n1v - value) / h END AS m1
           FROM k)
         SELECT user_id, probe_ts,
           round(CASE
             WHEN ts IS NULL THEN NULL
             WHEN epoch_us(probe_ts) = epoch_us(ts) THEN value
             WHEN n1t IS NULL THEN NULL
             ELSE (2 * s3 - 3 * s2 + 1) * value + (s3 - 2 * s2 + s) * h * m0
               + (-2 * s3 + 3 * s2) * n1v + (s3 - s2) * h * m1
           END, 6) AS interp_value
         FROM m""",
    "q55_destagger_2d" ->
      s"""WITH g AS ($gridSql),
          guv AS ($uvSql)
          SELECT a.cell_id, a.x, a.y,
            round((a.u + coalesce(ux.u, a.u)) * CAST(0.5 AS DOUBLE), 6) AS u_destag,
            round((a.v + coalesce(vy.v, a.v)) * CAST(0.5 AS DOUBLE), 6) AS v_destag
          FROM guv a
          LEFT JOIN guv ux ON ux.y = a.y AND ux.x = a.x + 1
          LEFT JOIN guv vy ON vy.y = a.y + 1 AND vy.x = a.x""",
    "q56_vector_rotate" ->
      s"""WITH g AS ($gridSql),
          guv AS ($uvSql)
          SELECT cell_id, x, y,
            round(u * cos(x * CAST(0.05 AS DOUBLE) - y * CAST(0.03 AS DOUBLE))
              + v * sin(x * CAST(0.05 AS DOUBLE) - y * CAST(0.03 AS DOUBLE)), 6) AS u_rot,
            round(-u * sin(x * CAST(0.05 AS DOUBLE) - y * CAST(0.03 AS DOUBLE))
              + v * cos(x * CAST(0.05 AS DOUBLE) - y * CAST(0.03 AS DOUBLE)), 6) AS v_rot
          FROM guv"""
  )
}
