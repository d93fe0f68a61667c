package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, Trigger}
import org.apache.spark.sql.types._
import graft.Scratch

/** Structured-Streaming re-expressions of the reference's implicit
  * streaming semantics (SURVEY.md §2.10): watermarked dedup (tolerant
  * duplicate-timestamp handling, TimeMultiPoint.py:309-318), tumbling
  * event-time windows (fixed-frequency target axis,
  * TimeCoverage.py:94-97), and custom per-key state via
  * flatMapGroupsWithState (the memoized reader-cursor analogue,
  * SYMPHONIEReader.py:62,110-117).
  *
  * Each op takes a STREAMING DataFrame and returns the transformed
  * streaming frame; `runToBatch` drives any of them over a bounded
  * file source synchronously (memory sink + AvailableNow) so batch
  * oracles can check them — used by q40 in the driver gate and by
  * StreamingOpsSpec.
  */
object StreamingOps {

  /** Watermarks require TIMESTAMP (not NTZ, which parquet yields). */
  private def asEventTime(df: DataFrame, eventTime: String): DataFrame =
    df.withColumn(eventTime, col(eventTime).cast("timestamp"))

  /** Watermarked exactly-once-ish dedup by event id. */
  def dedupWithWatermark(events: DataFrame, eventTime: String, idCols: Seq[String],
      watermark: String = "1 hour"): DataFrame =
    asEventTime(events, eventTime).withWatermark(eventTime, watermark)
      .dropDuplicates(idCols :+ eventTime)

  /** Tumbling event-time window aggregate with late-data bound. */
  def windowedAgg(events: DataFrame, eventTime: String, width: String,
      watermark: String = "2 hours"): DataFrame =
    asEventTime(events, eventTime)
      .withWatermark(eventTime, watermark)
      .groupBy(window(col(eventTime), width), col("event_type"))
      .agg(count(lit(1)).as("cnt"), round(sum(col("value")), 4).as("sum_value"))
      .select(col("window.start").as("win_start"), col("event_type"),
        col("cnt"), col("sum_value"))

  final case class Ev(user_id: Long, ts: java.sql.Timestamp, value: Double)
  final case class UserRunning(user_id: Long, n: Long, total: Double)

  /** Custom keyed state: running per-user event count + value total,
    * emitted once per batch per updated key (flatMapGroupsWithState,
    * update mode). */
  def runningUserTotals(events: Dataset[Ev]): Dataset[UserRunning] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Update, GroupStateTimeout.NoTimeout)(
        (user: Long, rows: Iterator[Ev], state: GroupState[UserRunning]) => {
          val prev = state.getOption.getOrElse(UserRunning(user, 0L, 0.0))
          var n = prev.n; var total = prev.total
          rows.foreach { e => n += 1; total += e.value }
          val next = UserRunning(user, n, total)
          state.update(next)
          Iterator(next)
        })
  }

  /** Drive a streaming transform of a bounded parquet source to
    * completion and return the collected result (memory sink,
    * Trigger.AvailableNow, `maxFilesPerTrigger` to force multiple
    * micro-batches). The checkpoint and any staged copy of the source
    * are deleted on return or failure: the memory sink holds the
    * result, so nothing reads them after the query terminates. */
  def runToBatch(
      spark: SparkSession,
      sourceDir: String,
      sourceSchema: StructType,
      transform: DataFrame => DataFrame,
      outputMode: String = "append",
      maxFilesPerTrigger: Int = 1): DataFrame = {
    val name = s"graft_stream_${System.nanoTime()}"
    val source = java.nio.file.Paths.get(sourceDir)
    // the file stream source requires a DIRECTORY base path — stage a
    // single-file source into a temp dir
    val staged =
      if (java.nio.file.Files.isRegularFile(source))
        Some(java.nio.file.Files.createTempDirectory(Scratch.base, "graft-stream-src"))
      else None
    // an EXPLICIT checkpoint on fast scratch ([[graft.Scratch.base]]):
    // the default temporary checkpoint lands on the java.io.tmpdir disk,
    // and its offset/commit/state fsync churn is pure overhead for a
    // bounded drive-to-completion run. It is not auto-deleted on stop
    // (temporary ones are): the finally reclaims it and the staged
    // source, or repeated bounded runs leak tmpfs
    val ckpt = java.nio.file.Files.createTempDirectory(Scratch.base, "graft-stream-ckpt")
    try {
      staged.foreach(d => java.nio.file.Files.copy(source, d.resolve(source.getFileName)))
      val in = spark.readStream.schema(sourceSchema)
        .option("maxFilesPerTrigger", maxFilesPerTrigger)
        .parquet(staged.fold(sourceDir)(_.toString))
      val q = transform(in).writeStream
        .format("memory").queryName(name).outputMode(outputMode)
        .option("checkpointLocation", ckpt.toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      // Stateful queries start a JVM-global StateStore maintenance task
      // that outlives spark.stop() and then throws "SparkEnv not active"
      // from its scheduler thread (it corrupted round-1's bench stderr).
      // The bounded query is done — shut the maintenance pool down.
      org.apache.spark.sql.execution.streaming.state.StateStore.stop()
      spark.table(name)
    } finally (staged.toSeq :+ ckpt).foreach(Scratch.rmTree)
  }
}
