package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Graft._

/** CDC-shaped operators over the `events` stream table: sessionization,
  * per-epoch lineage ranges (the audit-table shape), and ordered linear
  * interpolation between neighbors (InterpolatorCore.py:87-130 as
  * lag/lead Column arithmetic).
  */
object CdcOps {

  /** Deterministically fold the events table into a scratch lake table
    * as three LWW epochs (epoch = lsn % 3, applied in order) — the
    * shared fixture behind the incremental-read (q61) and time-travel
    * (q62) gates. Built ONCE per JVM per input dir and shared by both
    * gates (the fold is half of each gate's cost); rebuilt on first use
    * of every process, so a stale table from an older code version can
    * never leak into a gate. */
  private val foldCache =
    new java.util.concurrent.ConcurrentHashMap[String, graft.cdc.LakeTable]()

  /** Cache key = input dir + a content fingerprint (per-file size +
    * mtime of events.parquet): if the dataset at the same path is
    * regenerated within one JVM, the fold rebuilds instead of silently
    * serving the stale lake (the per-run rebuild existed precisely to
    * keep stale state out of a gate). */
  private def fingerprint(dir: String): String = {
    val p = java.nio.file.Paths.get(dir, "events.parquet")
    if (!java.nio.file.Files.exists(p)) dir
    else {
      import scala.jdk.CollectionConverters._
      val sig = scala.util.Using.resource(java.nio.file.Files.walk(p)) { st =>
        st.iterator().asScala.filter(java.nio.file.Files.isRegularFile(_))
          .map(f => f.getFileName.toString + ":" + java.nio.file.Files.size(f) + ":" +
            java.nio.file.Files.getLastModifiedTime(f).toMillis)
          .toSeq.sorted.mkString(",")
      }
      s"$dir|$sig"
    }
  }

  private def foldEventsToLake(s: SparkSession, dir: String): graft.cdc.LakeTable =
    foldCache.computeIfAbsent(fingerprint(dir), _ => buildFold(s, dir))

  private def buildFold(s: SparkSession, dir: String): graft.cdc.LakeTable = {
    import graft.cdc.{Apply, LakeTable}
    val scratch = graft.Scratch.dirFor("fold", dir)
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(scratch))
    // round-7: the payload goes in as a TYPED struct (the engine's typed
    // binlog layout) — the fold is a synthetic source, so serializing it
    // to JSON only to from_json it back in normalize was a pure
    // round-trip tax; identical values either way (strings pass through)
    val env = table(s, s"$dir/events.parquet").select(
      lit("U").as("op"), col("event_id").as("lsn"),
      col("ts").cast("timestamp").as("ts"), lit(1).as("schemaVersion"),
      concat(lit("r"), (col("user_id") % 10).cast("string")).as("repo"),
      concat(lit("p"), col("user_id").cast("string")).as("path"),
      lit(null).cast("string").as("before"),
      struct(
        lit("c0").as("commit"), lit("en").as("lang"),
        concat(lit("v"), col("event_id").cast("string")).as("content")).as("after"))
    // round-7: 8 buckets, not the 32-bucket default — the fold holds a
    // few hundred keys, and bucket count is a per-table layout knob
    // sized to data volume (guide §6 file sizing: 32 near-empty bucket
    // dirs × 3 epochs was 3/4 file-and-fsync overhead); reconstruction
    // semantics are bucket-count-independent.
    val lake = new LakeTable(scratch, numBuckets = 8)
    (0 until 3).foreach(e =>
      Apply.applyEpoch(s, lake, env.filter(pmod(col("lsn"), lit(3)) === e), e.toLong))
    lake
  }

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    // sessionization: gap > 30 min starts a new session (lag + cumulative
    // sum over an ordered per-key window — single shuffle on user_id)
    "q31_sessionize" -> ((s, dir) => {
      table(s, s"$dir/events.parquet")
        .sessionize("user_id", "ts", "30 MINUTES")
        .groupBy(col("user_id"), col("session_id").as("sess_id"))
        .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 4).as("sess_value"))
    }),

    // per-epoch lineage ranges — the audit-table aggregate
    // (epoch = event_id div 100): min/max LSN + row count per epoch
    "q32_lineage_ranges" -> ((s, dir) => {
      table(s, s"$dir/events.parquet")
        .groupBy(floor(col("event_id") / lit(100.0)).as("epoch"))
        .agg(
          min(col("event_id")).as("min_lsn"),
          max(col("event_id")).as("max_lsn"),
          count(lit(1)).as("rows_in_epoch"))
    }),

    // incremental change read (the Iceberg incremental-scan analogue,
    // gating LakeTable.readChanges end-to-end): deterministically fold
    // the events table into a lake table as 3 LWW epochs (epoch =
    // lsn % 3, applied in order), then read ONLY the changes the third
    // epoch committed — per-key LWW survivors of that epoch's slice,
    // O(changed rows), no full-table diff. Fixture shared with q62
    // (see foldEventsToLake).
    "q61_incremental_changes" -> ((s, dir) => {
      foldEventsToLake(s, dir)
        .readChanges(s, sinceVersion = 2, toVersion = 3)
        .select(col("repo"), col("path"), col("lsn"), col("content"))
    }),

    // time-travel read (Iceberg VERSION AS OF analogue, gating
    // Graft/LakeTable.readVersion): the same 3-epoch fold, read AS OF
    // the second commit — per-key LWW state over the first two slices
    // only, reconstructed purely from the manifest history (the third
    // epoch's files are present on disk but invisible at version 2)
    "q62_time_travel" -> ((s, dir) => {
      foldEventsToLake(s, dir)
        .readVersion(s, version = 2)
        .select(col("repo"), col("path"), col("lsn"), col("content"))
    }),

    // ordered linear interpolation: value at each event re-estimated
    // from its per-key neighbors (lag/lead arithmetic — the
    // time_1d_interpolation analogue, InterpolatorCore.py:87-130)
    "q33_interp_linear" -> ((s, dir) => {
      table(s, s"$dir/events.parquet")
        .interpolateLinear("user_id", "ts", "value")
        .filter(col("interp_value").isNotNull)
        .select(col("event_id"), round(col("interp_value"), 6).as("interp_value"))
    })
  )

  val oracles: Map[String, String] = Map(
    "q31_sessionize" ->
      """SELECT user_id, sess_id, count(*) AS n_events,
         round(sum(value), 4) AS sess_value FROM (
           SELECT user_id, value,
             CAST(sum(new_sess) OVER (PARTITION BY user_id ORDER BY ts, event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS sess_id
           FROM (
             SELECT user_id, ts, event_id, value,
               CASE WHEN lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                      OR ts > lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                           + INTERVAL 30 MINUTE
                    THEN 1 ELSE 0 END AS new_sess
             FROM events))
         GROUP BY user_id, sess_id""",
    // the fold is deterministic: epoch-3 changes = per-key max-lsn
    // survivor of the event_id % 3 = 2 slice
    "q61_incremental_changes" ->
      """SELECT repo, path, lsn, content FROM (
           SELECT 'r' || CAST(user_id % 10 AS VARCHAR) AS repo,
                  'p' || CAST(user_id AS VARCHAR) AS path,
                  event_id AS lsn,
                  'v' || CAST(event_id AS VARCHAR) AS content,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY event_id DESC) AS rn
           FROM events WHERE event_id % 3 = 2)
         WHERE rn = 1""",
    // version 2 = epochs 0+1 committed: LWW over the first two slices
    "q62_time_travel" ->
      """SELECT repo, path, lsn, content FROM (
           SELECT 'r' || CAST(user_id % 10 AS VARCHAR) AS repo,
                  'p' || CAST(user_id AS VARCHAR) AS path,
                  event_id AS lsn,
                  'v' || CAST(event_id AS VARCHAR) AS content,
                  row_number() OVER (PARTITION BY user_id
                                     ORDER BY event_id DESC) AS rn
           FROM events WHERE event_id % 3 IN (0, 1))
         WHERE rn = 1""",
    "q32_lineage_ranges" ->
      """SELECT CAST(floor(event_id / 100.0) AS BIGINT) AS epoch,
         min(event_id) AS min_lsn, max(event_id) AS max_lsn,
         count(*) AS rows_in_epoch
         FROM events GROUP BY 1""",
    "q33_interp_linear" ->
      """SELECT event_id,
         round(pv + (nv - pv) *
           CAST(epoch_us(ts) - epoch_us(pt) AS DOUBLE) /
           CAST(epoch_us(nt) - epoch_us(pt) AS DOUBLE), 6) AS interp_value
         FROM (
           SELECT event_id, ts, value,
             lag(value) OVER w AS pv, lead(value) OVER w AS nv,
             lag(ts) OVER w AS pt, lead(ts) OVER w AS nt
           FROM events
           WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
         WHERE pv IS NOT NULL AND nv IS NOT NULL AND nt > pt"""
  )
}
