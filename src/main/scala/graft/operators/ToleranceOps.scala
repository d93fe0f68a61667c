package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft._
import graft.functions.ColumnFns._

/** Tolerance-match / grid-pair operators (SURVEY.md §2.4 rows the
  * round-1 verdict listed as ungated):
  *
  *  - q45: vertical level match — per-key candidate layers within
  *    ±DEPTH_DELTA (reference coverage/LevelCoverage.py:180-293,
  *    DEPTH_DELTA=1.0 at :33), as a LEFT `bandedToleranceJoin` (the one
  *    banded-join primitive, graft.plans.Band): candidate generation is
  *    an equi-join on (cell, depth bin ± 1) with bounded fan-out — never
  *    a full per-cell product.
  *  - q47: nearest-within-TIME_DELTA interpolation with out-of-range
  *    fallback (reference operator/interpolator/InterpolatorCore.py:
  *    48-130 "nearest" + TimeCoverage.py:287-303 match-or-raise; the
  *    engine returns null + a `matched` metric column instead of
  *    raising, like the reference's logged fallback) — the same LEFT
  *    `bandedToleranceJoin` over time bins.
  *  - q48: the "quick" nearest-grid-point variant — per-axis argmin on
  *    a REGULAR grid (reference coverage/Coverage.py:526-553: nearest
  *    lon index and nearest lat index found independently), re-expressed
  *    as two broadcast axis joins + ranking. The classic full-scan
  *    variant is q19.
  *  - q49: grid-pair positional zip join (reference coverage/io/netcdf/
  *    oasis/OASISWriter.py:28-146 pairs a SYMPHONIE and a WW3 coverage
  *    cell-by-cell into coupling files) — an equi-join on cell index.
  *  - q50: before-image consistency audit (the change-event envelope's
  *    `before` slot, graft.cdc.Schema): per key, the delivered
  *    pre-image of each event is compared against the actual previous
  *    value; mismatches are lost updates. The gate synthesizes a
  *    source that corrupts every 97th pre-image and counts detections;
  *    the envelope-level version is Apply.lostUpdateAudit (spec-gated).
  */
object ToleranceOps {

  val DepthDelta = 1.0 // reference LevelCoverage.DEPTH_DELTA (m)
  val TimeDeltaUs = 7200L * 1000000L // ±2 h tolerance in microseconds

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // §2.4 vertical level match: candidates within ±DEPTH_DELTA per
    // cell, banded equi-join on (cell, depth bin ± 1)
    "q45_level_match" -> ((s, dir) => {
      val levels = table(s, s"$dir/part.parquet")
        .select(
          (col("p_partkey") % 40).as("cell"),
          floor(col("p_partkey") / lit(40.0)).cast("long").as("z_idx"))
        .withColumn("z",
          col("z_idx").cast("double") + (col("cell") + 1).cast("double") * 0.013)
      val probes = levels.select(col("cell")).distinct()
        .select(col("cell"),
          explode(array(Seq(5.25, 17.6, 33.8, 49.9, 60.0).map(lit): _*)).as("probe_depth"))
      // out-of-range probes stay, with 0 candidates (the reference logs
      // a warning and returns an empty candidate set, :284-287): a LEFT
      // bandedToleranceJoin keeps every probe, and the conditional
      // aggregates skip its null-extended rows — count(when(cond, 1))
      // reads 0 and min_by skips null orderings for unmatched probes, so
      // no second probes join restores them. min_by is KEPT (same
      // ordering expression over the same candidate set = identical tie
      // behavior as the inner-join formulation).
      val cond = abs(col("z") - col("probe_depth")) <= lit(DepthDelta)
      probes
        .bandedToleranceJoin(levels, Seq("cell"), "probe_depth", "z", DepthDelta, "left")
        .groupBy(col("cell"), col("probe_depth"))
        .agg(
          count(when(cond, lit(1))).as("n_candidates"),
          min_by(col("z_idx"),
            when(cond, abs(col("z") - col("probe_depth")))).as("nearest_z_idx"))
    }),

    // §2.9 nearest-within-tolerance time interpolation + fallback flag.
    // The nearest candidate is min(struct(|Δt|, ts, event_id, value)):
    // the same pick as row_number over (|Δt|, ts, event_id) (that key is
    // unique per candidate, so `value` never decides), but with map-side
    // PARTIAL aggregation — candidates collapse per (user, probe) per
    // task before the shuffle (guide §2.3). A LEFT bandedToleranceJoin
    // keeps unmatched probes: the ±delta condition inside the min turns
    // their null-extended rows into a null struct, which min ignores, so
    // _b = null flags the fallback with no second probes join
    // (OPTIMIZATION_r07.md: 0.71-0.82 s vs 1.47-1.77 s warm).
    // `matched` is candidate existence — the reference's
    // find_time_index rule, a match is an index within TIME_DELTA — so
    // a nearest event with a NULL value reads matched = 1 and
    // near_value = NULL.
    "q47_interp_nearest" -> ((s, dir) => {
      val probes = Relational.probeGrid(s, dir)
        .withColumn("_pus", unix_micros(col("probe_ts").cast("timestamp")))
      val ev = table(s, s"$dir/events.parquet")
        .select(col("user_id"), col("ts"), col("value"), col("event_id"))
        .withColumn("_eus", unix_micros(col("ts").cast("timestamp")))
      probes
        .bandedToleranceJoin(ev, Seq("user_id"), "_pus", "_eus", TimeDeltaUs.toDouble, "left")
        .groupBy(col("user_id"), col("probe_ts"))
        .agg(min(when(abs(col("_eus") - col("_pus")) <= lit(TimeDeltaUs.toDouble),
          struct(abs(col("_eus") - col("_pus")).as("_ad"),
            col("ts"), col("event_id"), col("value")))).as("_b"))
        .select(col("user_id"), col("probe_ts"),
          round(col("_b.value"), 6).as("near_value"),
          when(col("_b").isNotNull, lit(1)).otherwise(lit(0)).as("matched"))
    }),

    // §2.4 "quick" NN: per-axis argmin on a regular grid
    "q48_quick_nn" -> ((s, dir) => {
      val latAxis = table(s, s"$dir/supplier.parquet")
        .select((col("s_suppkey").cast("double") * 1.6 - 80.0).as("g_lat")).distinct()
      val lonAxis = table(s, s"$dir/part.parquet")
        .select(((col("p_partkey") % 180).cast("double") * 2.0 - 180.0).as("g_lon")).distinct()
      // fanOut (round-7): the query×axis products below are evaluated in
      // the stage that scans `customer` — a single-split scan would run
      // the whole ~15M-row product on one core (no-op at scale); hash
      // by c_custkey so the argmin aggregates reuse the exchange
      val cust = graft.Graft.fanOut(table(s, s"$dir/customer.parquet"), col("c_custkey")).select(
        col("c_custkey"),
        (pmod(col("c_custkey").cast("double") * 17.0, lit(160.0)) - 80.0).as("c_lat"),
        (pmod(col("c_custkey").cast("double") * 53.0, lit(360.0)) - 180.0).as("c_lon"))
      // Both per-axis argmins in ONE product pass (round-7, twice
      // refined): per axis the pick is min(struct(|diff|, axis)) —
      // lexicographic struct min = min distance, ties broken by
      // min(axis), i.e. EXACTLY the original two-pass semantics
      // (min |d|, then min axis among the achievers; np.argmin
      // first-index tie behavior; |d| comes from abs() so it is never
      // -0.0 and the struct's double ordering coincides with the
      // two-pass = filter). The two axis tables ride ONE broadcast as
      // a tagged union, each axis aggregated by its own conditional
      // min(struct) buffer (min ignores the other tag's null rows), so
      // the query set crosses ONE product and ONE aggregation instead
      // of two products plus a 3-way join-back — grouping by the full
      // derived customer tuple makes the join-back unnecessary, and
      // hashpartitioning(c_custkey) from fanOut still satisfies the
      // grouping, so no exchange is added. Per-task partial
      // aggregation keeps the shuffle O(query points); the product
      // rows (unchanged in total count: n x (A+B)) are never shuffled.
      // Interleaved A/B (OPTIMIZATION_r07.md): fused wins 5/6 pairs, median
      // 0.88 s vs 2.12 s (the earlier per-axis variant's remaining
      // cost was the two aggregate jobs + the SMJ join-back).
      val axes = latAxis.select(lit(0L).as("_ax"), col("g_lat").as("_g"))
        .unionByName(lonAxis.select(lit(1L).as("_ax"), col("g_lon").as("_g")))
      cust.crossJoin(broadcast(axes))
        .groupBy(col("c_custkey"), col("c_lat"), col("c_lon"))
        .agg(
          min(when(col("_ax") === 0, struct(
            abs(col("c_lat") - col("_g")).as("_d"), col("_g").as("g_lat")))).as("_bl"),
          min(when(col("_ax") === 1, struct(
            abs(col("c_lon") - col("_g")).as("_d"), col("_g").as("g_lon")))).as("_bo"))
        .select(col("c_custkey"), col("_bl.g_lat").as("g_lat"),
          col("_bo.g_lon").as("g_lon"),
          round(haversineKm(col("c_lat"), col("c_lon"), col("_bl.g_lat"),
            col("_bo.g_lon")), 4).as("dist_km"))
    }),

    // §2.4 grid-pair positional zip join
    "q49_grid_zip" -> ((s, dir) => {
      val gridA = table(s, s"$dir/part.parquet").select((col("p_partkey") % 800).as("cell")).distinct()
        .select(col("cell"),
          (pmod(col("cell").cast("double") * 3.1, lit(160.0)) - 80.0).as("lat_a"),
          (pmod(col("cell").cast("double") * 7.9, lit(360.0)) - 180.0).as("lon_a"))
      val gridB = table(s, s"$dir/orders.parquet").select((col("o_orderkey") % 800).as("cell")).distinct()
        .select(col("cell"),
          (pmod(col("cell").cast("double") * 5.3, lit(160.0)) - 80.0).as("lat_b"),
          (pmod(col("cell").cast("double") * 11.7, lit(360.0)) - 180.0).as("lon_b"))
      gridA.join(gridB, Seq("cell"))
        .select(col("cell"), col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b"),
          round(haversineKm(col("lat_a"), col("lon_a"), col("lat_b"), col("lon_b")), 4)
            .as("displacement_km"))
    }),

    // §2.1 affine raster index -> coord map and its inverse (the
    // reference's GDAL geotransform pixel2coord, SRTMReader.py:82-88:
    // xp = a*col + b*row + a/2 + b/2 + c at pixel centers). Pixel sizes
    // are binary fractions so the round trip is exact; the inverse
    // (coord -> index) must reproduce the source indices.
    "q51_affine_grid" -> ((s, dir) => {
      val (c, a, f, e) = (-180.0, 0.25, 60.0, -0.125) // origin + pixel sizes (b=d=0)
      table(s, s"$dir/part.parquet")
        .select(col("p_partkey").as("cell_id"),
          (col("p_partkey") % 64).as("px"),
          floor(col("p_partkey") / lit(64.0)).cast("long").as("py"))
        .withColumn("lon", lit(a) * col("px").cast("double") + lit(a * 0.5) + lit(c))
        .withColumn("lat", lit(e) * col("py").cast("double") + lit(e * 0.5) + lit(f))
        .withColumn("px_rt", floor((col("lon") - lit(c)) / lit(a)).cast("long"))
        .withColumn("py_rt", floor((col("lat") - lit(f)) / lit(e)).cast("long"))
    }),

    // before-image lost-update detection (SQL-expressible analogue of
    // Apply.lostUpdateAudit): a synthetic source delivers each event's
    // pre-image, corrupted for every 97th event; count detections
    "q50_before_image_audit" -> ((s, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts"), col("event_id"))
      table(s, s"$dir/events.parquet")
        .withColumn("_expected", lag(col("value"), 1).over(w))
        .withColumn("_delivered",
          col("_expected") + when(col("event_id") % 97 === 0, lit(1.0)).otherwise(lit(0.0)))
        .filter(col("_expected").isNotNull)
        .groupBy(col("user_id"))
        .agg(
          count(lit(1)).as("n_with_before"),
          sum(when(col("_delivered") =!= col("_expected"), 1L).otherwise(0L))
            .as("n_lost_updates"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q45_level_match" ->
      """WITH levels AS (
           SELECT p_partkey % 40 AS cell,
             CAST(floor(p_partkey / CAST(40.0 AS DOUBLE)) AS BIGINT) AS z_idx,
             CAST(floor(p_partkey / CAST(40.0 AS DOUBLE)) AS BIGINT)
               + (p_partkey % 40 + 1) * CAST(0.013 AS DOUBLE) AS z
           FROM part),
         probes AS (
           SELECT cell, probe_depth
           FROM (SELECT DISTINCT cell FROM levels),
             LATERAL unnest([CAST(5.25 AS DOUBLE), CAST(17.6 AS DOUBLE),
               CAST(33.8 AS DOUBLE), CAST(49.9 AS DOUBLE),
               CAST(60.0 AS DOUBLE)]) AS t(probe_depth)),
         cand AS (
           SELECT p.cell, p.probe_depth, count(*) AS n_candidates,
             min_by(l.z_idx, abs(l.z - p.probe_depth)) AS nearest_z_idx
           FROM probes p JOIN levels l
             ON l.cell = p.cell AND abs(l.z - p.probe_depth) <= 1.0
           GROUP BY 1, 2)
         SELECT p.cell, p.probe_depth,
           coalesce(c.n_candidates, 0) AS n_candidates, c.nearest_z_idx
         FROM probes p LEFT JOIN cand c
           ON c.cell = p.cell AND c.probe_depth = p.probe_depth""",
    "q47_interp_nearest" ->
      """WITH probes AS (
           SELECT user_id, probe_ts
           FROM (SELECT DISTINCT user_id FROM events),
             LATERAL unnest(generate_series(TIMESTAMP '2024-01-02',
               TIMESTAMP '2024-01-30', INTERVAL 6 HOUR)) AS t(probe_ts)),
         best AS (
           SELECT user_id, probe_ts, value FROM (
             SELECT p.user_id, p.probe_ts, e.value,
               row_number() OVER (PARTITION BY p.user_id, p.probe_ts
                 ORDER BY abs(epoch_us(e.ts) - epoch_us(p.probe_ts)), e.ts, e.event_id) AS rn
             FROM probes p JOIN events e ON e.user_id = p.user_id
               AND abs(epoch_us(e.ts) - epoch_us(p.probe_ts)) <= 7200000000)
           WHERE rn = 1)
         SELECT p.user_id, p.probe_ts, round(b.value, 6) AS near_value,
           CASE WHEN b.user_id IS NOT NULL THEN 1 ELSE 0 END AS matched
         FROM probes p LEFT JOIN best b
           ON b.user_id = p.user_id AND b.probe_ts = p.probe_ts""",
    "q48_quick_nn" ->
      """WITH lat_axis AS (
           SELECT DISTINCT CAST(s_suppkey AS DOUBLE) * 1.6 - 80.0 AS g_lat FROM supplier),
         lon_axis AS (
           SELECT DISTINCT CAST(p_partkey % 180 AS DOUBLE) * 2.0 - 180.0 AS g_lon FROM part),
         cust AS (
           SELECT c_custkey,
             fmod(CAST(c_custkey AS DOUBLE) * 17.0, 160.0) - 80.0 AS c_lat,
             fmod(CAST(c_custkey AS DOUBLE) * 53.0, 360.0) - 180.0 AS c_lon
           FROM customer),
         best_lat AS (
           SELECT c_custkey, c_lat, c_lon, g_lat FROM (
             SELECT c.*, a.g_lat,
               row_number() OVER (PARTITION BY c_custkey
                 ORDER BY abs(c_lat - g_lat), g_lat) AS rn
             FROM cust c CROSS JOIN lat_axis a)
           WHERE rn = 1),
         best AS (
           SELECT c_custkey, c_lat, c_lon, g_lat, g_lon FROM (
             SELECT b.*, a.g_lon,
               row_number() OVER (PARTITION BY c_custkey
                 ORDER BY abs(c_lon - g_lon), g_lon) AS rn
             FROM best_lat b CROSS JOIN lon_axis a)
           WHERE rn = 1)
         SELECT c_custkey, g_lat, g_lon,
           round(6373.0 * 2.0 * asin(sqrt(
             pow(sin(radians(g_lat - c_lat) / 2), 2) +
             cos(radians(c_lat)) * cos(radians(g_lat)) *
             pow(sin(radians(g_lon - c_lon) / 2), 2))), 4) AS dist_km
         FROM best""",
    "q49_grid_zip" ->
      """WITH grid_a AS (
           SELECT cell,
             fmod(CAST(cell AS DOUBLE) * 3.1, 160.0) - 80.0 AS lat_a,
             fmod(CAST(cell AS DOUBLE) * 7.9, 360.0) - 180.0 AS lon_a
           FROM (SELECT DISTINCT p_partkey % 800 AS cell FROM part)),
         grid_b AS (
           SELECT cell,
             fmod(CAST(cell AS DOUBLE) * 5.3, 160.0) - 80.0 AS lat_b,
             fmod(CAST(cell AS DOUBLE) * 11.7, 360.0) - 180.0 AS lon_b
           FROM (SELECT DISTINCT o_orderkey % 800 AS cell FROM orders))
         SELECT a.cell, lat_a, lon_a, lat_b, lon_b,
           round(6373.0 * 2.0 * asin(sqrt(
             pow(sin(radians(lat_b - lat_a) / 2), 2) +
             cos(radians(lat_a)) * cos(radians(lat_b)) *
             pow(sin(radians(lon_b - lon_a) / 2), 2))), 4) AS displacement_km
         FROM grid_a a JOIN grid_b b ON a.cell = b.cell""",
    "q51_affine_grid" ->
      """SELECT p_partkey AS cell_id,
           p_partkey % 64 AS px,
           CAST(floor(p_partkey / CAST(64.0 AS DOUBLE)) AS BIGINT) AS py,
           0.25 * CAST(p_partkey % 64 AS DOUBLE) + 0.125 + (-180.0) AS lon,
           (-0.125) * CAST(floor(p_partkey / CAST(64.0 AS DOUBLE)) AS DOUBLE)
             + (-0.0625) + 60.0 AS lat,
           CAST(floor((0.25 * CAST(p_partkey % 64 AS DOUBLE) + 0.125 + (-180.0)
             - (-180.0)) / 0.25) AS BIGINT) AS px_rt,
           CAST(floor(((-0.125) * CAST(floor(p_partkey / CAST(64.0 AS DOUBLE)) AS DOUBLE)
             + (-0.0625) + 60.0 - 60.0) / (-0.125)) AS BIGINT) AS py_rt
         FROM part""",
    "q50_before_image_audit" ->
      """SELECT user_id, count(*) AS n_with_before,
           CAST(sum(CASE WHEN delivered <> expected THEN 1 ELSE 0 END) AS BIGINT)
             AS n_lost_updates
         FROM (
           SELECT user_id, event_id,
             lag(value) OVER w AS expected,
             lag(value) OVER w
               + CASE WHEN event_id % 97 = 0 THEN CAST(1.0 AS DOUBLE)
                      ELSE CAST(0.0 AS DOUBLE) END AS delivered
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         WHERE expected IS NOT NULL
         GROUP BY user_id"""
  )
}
